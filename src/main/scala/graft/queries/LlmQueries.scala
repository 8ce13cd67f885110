package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.{TextOps, VectorOps}

/** LLM-data-pipeline operators (SURVEY.md §2.11, BASELINE.json north
  * star): tokenization, sub-quadratic near-dup detection (MinHash/LSH and
  * SimHash banding, both verified by exact n-gram Jaccard), embedding
  * similarity, ANN with hyperplane-LSH pre-filtering, language ID, quality
  * scoring, token statistics, and document fingerprinting.
  *
  * 100 TB posture: the near-dup operators shuffle O(rows × bands) band
  * signatures and compare only bucket collisions — never O(rows²) pairs;
  * the exact-verification joins touch candidates only. The brute-force
  * DuckDB oracles ARE quadratic — affordable at the sf0.01 correctness
  * scale precisely because the engine side doesn't have to be.
  */
object LlmQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Shared DuckDB prologue: doc_id + distinct word-3-gram shingles. */
  private val DuckShingles =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
       s AS (SELECT doc_id,
               CASE WHEN len(tk) >= 3
                 THEN list_distinct(list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                 ELSE []::VARCHAR[] END AS sh
             FROM t)"""

  /** Brute-force exact near-dup ground truth — the oracle both LSH paths
    * must reproduce (their candidate generation differs; the verified
    * output must not). */
  private val DuckNearDup = DuckShingles +
    """, p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(a.sh || b.sh)) AS jac
               FROM s a JOIN s b ON a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, ROUND(jac, 4) AS jac FROM p
       WHERE NOT isnan(jac) AND jac >= 0.8 ORDER BY doc_a, doc_b"""

  /** ONE checkpointed shingle pass over a (doc_id, text) table — the
    * builder every shingle consumer shares (q34/q35: banding + exact
    * short-doc cover + verify; q56: prefix + verify; q64: the dedup
    * pipeline), so a change to the pass shape lands once. Since r16 the
    * whole prefix-index device lives in
    * [[graft.operators.PrefixIndex]], shared verbatim with the
    * STREAMING near-dup ingest; these wrappers keep this file's query
    * spellings stable. */
  private def shingledDocs(s: SparkSession, docs: DataFrame): DataFrame =
    graft.operators.PrefixIndex.shingled(docs)

  /** The exact-cover regime of the r15 q34/q35 partition — defined once
    * next to its boundary constants. */
  private def shortDocs(docsSh: DataFrame): DataFrame =
    docsSh.filter(size(col("sh")) > 0 && size(col("sh")) < ShortDocShingles)

  /** q56's verify: the shingle sets were already materialized for
    * candidate generation — verify joins against them instead of
    * re-shingling candidate documents from raw text. Budget-gated
    * (VERDICT r15 wrong #1) in [[graft.operators.PrefixIndex.verifyPairs]]:
    * q34/q35/q56/q64/q161/q167 all route through it. */
  private[queries] def verifyOnShingles(
      s: SparkSession, docsSh: DataFrame, cand: DataFrame,
      corpusPreGate: Boolean = true): DataFrame =
    graft.operators.PrefixIndex.verifyPairs(docsSh, cand, corpusPreGate)
      // lazy cut (r20 opt, guide §2.4): a global sort's range exchange
      // SAMPLES its child to compute partition bounds, and the verify
      // below is broadcast joins all the way down — no materialized
      // shuffle shields it, so the whole exactJaccard probe (two
      // broadcast-hash lookups + array_intersect per candidate pair)
      // executed TWICE per action. The cut persists the output-scale
      // verified pairs; the sampler materializes them once and the sort
      // reads blocks. Both consumers (sampler + exchange) sit inside
      // the one output action — the established lazy-cut invariant.
      .transform(graft.Cut.lazyCut)
      .orderBy("doc_a", "doc_b")

  /** Unsorted form for callers that sort LAST anyway (q35's
    * expandVerified) — skips a wasted intermediate sort. */
  private def verifyOnShinglesUnsorted(
      s: SparkSession, docsSh: DataFrame, cand: DataFrame): DataFrame =
    graft.operators.PrefixIndex.verifyPairs(docsSh, cand)

  // -------------------------------------------------------- q33 tokenizer
  val q33 = QueryDef(
    "q33_tokenize_topk",
    Some("""SELECT token, COUNT(*) AS cnt
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
                  FROM documents)
            WHERE token <> '' GROUP BY token
            ORDER BY cnt DESC, token LIMIT 20"""),
    (s, dir) => t(s, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20))

  // --------------------------------------------- q34 MinHash/LSH near-dup
  // 128 minhashes, 32 bands × 4 rows: P(candidate | jaccard s) =
  // 1-(1-s⁴)^32 — ≈1 for s ≥ 0.8 (miss ≈ 5·10⁻⁸; planted dups sit at
  // ~0.99) while background same-vocabulary pairs (s ≪ 0.1) almost never
  // collide. 2-row bands let ~22k of 12.5M sf0.1 pairs through to the
  // exact verify; 4-row bands cut that to ≈ the true pairs.
  // Banding runs over exact-duplicate CLASS REPRESENTATIVES (VERDICT r6
  // #4): a corpus with any number of byte-identical copies bands each
  // text once, so identical-heavy corpora can no longer blow the bucket
  // cap; the collapsed pairs are reconstructed losslessly afterwards.
  val q34 = QueryDef(
    "q34_minhash_neardup",
    Some(DuckNearDup),
    (s, dir) => {
      graft.MetricsWarn.ensure(s)
      val (reps, members, within) =
        collapseExactDups(s, t(s, dir, "documents").select("doc_id", "text"))
      // Same r15 regime partition as q35 (one checkpointed shingle pass;
      // sub-80-shingle docs covered EXACTLY by the prefix filter, only
      // the ≥64-shingle regime banded, [64, 80) in both). For MinHash
      // the motivation is NOT banding noise — 32 bands × 4 rows miss a
      // jac-0.9 pair with p = (1 − 0.9⁴)³² ≈ 1.4·10⁻¹⁵ at ANY length
      // (≈ 5·10⁻⁸ even at the 0.8 threshold) — but shape-consistency
      // with q35, the shared one-pass shingle table, and turning the
      // dominant short regime's whp guarantee into a certainty for free
      // (this corpus is 81% short; the prefix cover is exact there).
      val docsSh = shingledDocs(s, reps)
      val bands = TextOps.minhashBandsFromShingles(
        docsSh.filter(size(col("sh")) >= BandRegimeFloor), 32, 4)
      val cand = bucketPairs(bands, "q34_lsh_buckets")
        .union(prefixCandidates(shortDocs(docsSh), checkpoint = false,
          dedup = false))
        .distinct()
        .transform(graft.Cut.lazyCut) // lazy cut (r19 opt): both verify
        // references sit inside the one output action
      expandVerified(verifyOnShinglesUnsorted(s, docsSh, cand),
        members, within)
    })

  /** Exact-duplicate pre-collapse feeding both banding paths. Returns
    * (reps, members, within):
    *  - reps: one (doc_id, text) per distinct text — doc_id is the class
    *    minimum, the only id that gets banded;
    *  - members: (rep, doc_id) class membership, for pair re-expansion;
    *  - within: (doc_a, doc_b, jac=1.0) — every intra-class pair of a
    *    multi-member class whose shingle set is nonempty (two identical
    *    nonempty texts have Jaccard exactly 1; empty-shingle classes are
    *    0/0 = NaN in the oracle and must not be emitted).
    * Text identity is the 128-bit (xxhash64(text), xxhash64(reverse))
    * key (q55's key): a collision would need BOTH hashes to agree on
    * different texts — whp impossible, and the probabilistic banding
    * paths already accept whp guarantees. Within-pair emission is
    * O(Σ m_c²) = exactly the output rows the oracle demands for those
    * classes — output-sized, not avoidable. */
  private[graft] def collapseExactDups(
      s: SparkSession, docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val classes = docs
      .groupBy(xxhash64(col("text")).as("h1"),
        xxhash64(reverse(col("text"))).as("h2"))
      // identical texts make first() deterministic by value
      .agg(min(col("doc_id")).as("rep"), first(col("text")).as("text"),
        sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("rep"), col("text"), col("ids"))
      // lazy cut (r19 opt): reps feeds the eager shingle pass (which
      // materializes the persist); members/within then read blocks
      .transform(graft.Cut.lazyCut)
    val reps = classes.select(col("rep").as("doc_id"), col("text"))
    val members = classes.select(col("rep"), explode(col("ids")).as("doc_id"))
    val within = classes.filter(size(col("ids")) > 1)
      .select(col("text"), col("ids")).as[(String, Seq[Long])]
      .flatMap { case (text, ids) =>
        if (TextOps.shingleSet(text).isEmpty) Iterator.empty
        else ids.indices.iterator.flatMap(i =>
          (i + 1 until ids.size).map(j => (ids(i), ids(j), 1.0)))
      }
      .toDF("doc_a", "doc_b", "jac")
    (reps, members, within)
  }

  /** Lossless inverse of [[collapseExactDups]]: verified representative
    * pairs fan out across both classes (jac is text-determined, so every
    * member pair inherits the representative pair's value verbatim — no
    * re-verify), then the intra-class jac-1 pairs union in. Classes are
    * disjoint, so the fan-out is duplicate-free by construction.
    *
    * The verified pair set is checkpointed (lazily — it materializes
    * inside the first downstream action, no extra barrier job) before
    * the fan-out: profiling (VERDICT r10 #1) showed the un-checkpointed
    * composite plan roughly doubled the verify stage's wall time — AQE's
    * per-stage replanning of the expand joins defeats broadcast-exchange
    * reuse inside the verify subtree, so the candidate shingle map was
    * built more than once. Verified pairs are output-scale (near-dup
    * pairs), orders of magnitude below the corpus, so the checkpoint is
    * cheap at any SF. */
  private def expandVerified(
      verified0: DataFrame, members: DataFrame, within: DataFrame): DataFrame = {
    val verified = verified0.transform(graft.Cut.lazyCut)
    // Both fan-out sides alias ONE relation (r20 optimization round,
    // the exactJaccard trick): renaming columns BELOW the join put two
    // different projections under the two exchanges, so the members
    // build ran twice; with identical subtrees ReuseExchange builds it
    // once.
    verified
      .join(members.as("MA"), col("doc_a") === col("MA.rep"))
      .join(members.as("MB"), col("doc_b") === col("MB.rep"))
      .select(least(col("MA.doc_id"), col("MB.doc_id")).as("doc_a"),
        greatest(col("MA.doc_id"), col("MB.doc_id")).as("doc_b"), col("jac"))
      .unionByName(within)
      // lazy cut (r20 opt): the output sort's range sampler re-executed
      // the fan-out probes AND the within flatMap (which re-shingles
      // every multi-member class text) — output-scale persist, one run
      // (the verifyOnShingles comment has the full sampler rationale)
      .transform(graft.Cut.lazyCut)
      .orderBy("doc_a", "doc_b")
  }

  /** Candidate pairs from bucket collisions in a single pass: collect
    * each (band, sig) bucket's member list and emit its pairs directly —
    * no self-join, so the signature stage runs exactly once. Degenerate
    * buckets are capped (a pathological signature shared corpus-wide
    * would otherwise regenerate the quadratic pair space) — and the cap
    * is OBSERVABLE, not silent (VERDICT r6 #4): `observe` counts dropped
    * buckets inside the same execution (no second pass, codegen intact)
    * and surfaces them as the named metric on the standard
    * QueryExecutionListener channel; [[graft.MetricsWarn]] installs a
    * listener that WARNs when the count is nonzero. With the exact-dup
    * pre-collapse upstream, overflowing the cap needs > cap DISTINCT
    * texts sharing a band signature. LAZY since r15: the one caller
    * (q34) unions these pairs with the exact short-doc cover and
    * distinct+checkpoints the UNION — an inner distinct+checkpoint here
    * was a redundant blocking job per execution (r15 review). */
  private def bucketPairs(bands: DataFrame, metricName: String): DataFrame =
    bands.groupBy("band", "sig")
      .agg(collect_list(col("doc_id")).as("ids"))
      .observe(metricName,
        sum(when(size(col("ids")) > BucketCap, 1).otherwise(0))
          .as("dropped_buckets"))
      .filter(size(col("ids")).between(2, BucketCap))
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(" +
          "slice(ids, i + 2, size(ids) - i - 1), " +
          "y -> struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b))))")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))

  /** Pair-space guard for degenerate buckets: larger buckets are dropped
    * from candidate generation (and counted — see [[bucketPairs]]). */
  private val BucketCap = 1000


  // ------------------------------------------------ q35 SimHash near-dup
  // 64-bit SimHash, 4 bands × 16 bits, single-bit multiprobe. Band width
  // must exceed log₂(corpus) or unrelated documents collide by pigeonhole
  // (8-bit bands ≈ 20 docs/bucket at 5k docs — quadratic verify); 16-bit
  // buckets stay sparse while the 17 probe variants per band (identity +
  // each 1-bit flip) recover recall: a pair is caught whenever any band
  // differs by ≤ 1 bit — guaranteed for hamming ≤ 7 by pigeonhole, and
  // empirically for the planted dups here. Exact-Jaccard verification
  // reproduces the same ground-truth oracle as q34.
  //
  // Short-doc supplement (r15): the simhash majority vote is NOISY below
  // ~64 shingles — each bit is a majority over the shingle hashes, so a
  // one-shingle edit in a 38-shingle doc flips several bits (MEASURED:
  // a jac-0.9744 pair of ~40-token docs landed ≥ 2 bits apart in every
  // band at sf0.001 and was missed). jac ≥ 0.8 bounds the partner at
  // 1.25× the shorter side's shingle count, so every pair with a
  // sub-64-shingle side has BOTH sides < [[ShortDocShingles]] = 80 —
  // and [[prefixCandidates]] (q56's pigeonhole-lossless AllPairs
  // device) covers that subset EXACTLY at trivial cost. Banding carries
  // the stable long-doc regime; the supplement makes the noisy regime
  // lossless instead of lucky.
  val q35 = QueryDef(
    "q35_simhash_neardup",
    Some(DuckNearDup),
    (s, dir) => {
      graft.MetricsWarn.ensure(s)
      val simBands = 4
      val bitsPerBand = 64 / simBands // probe count MUST track band width
      val (reps, members, within) =
        collapseExactDups(s, t(s, dir, "documents").select("doc_id", "text"))
      // ONE checkpointed shingle pass serves banding, the short-doc
      // supplement AND exact verify (the q56 posture — the pre-r15
      // shape re-shingled the corpus per consumer)
      val docsSh = shingledDocs(s, reps)
      // REGIME PARTITION (not just a supplement): this corpus is
      // short-doc dominated (sf0.1: 4073/5000 reps under 80 shingles),
      // so banding the noisy regime would be 80% wasted shuffle next to
      // its exact cover. Every true pair is covered by exactly the
      // right device: min side < BandRegimeFloor ⇒ jac ≥ 0.8
      // bounds BOTH sides < 80 ⇒ the prefix filter pairs them exactly;
      // otherwise both sides ≥ 64 ⇒ both band. The [64, 80) overlap
      // belongs to both sets, so no pair falls between the regimes.
      val exploded = TextOps.simhashBandsFromShingles(
        docsSh.filter(size(col("sh")) >= BandRegimeFloor), simBands)
      // one pass emits the exact row (ex=1) plus DIRECTIONAL single-bit
      // probes (ex=0): only bits that are SET are flipped (1→0). A pair
      // whose band sigs differ in exactly bit j has exactly one member
      // with that bit set, and its downward probe lands on the other
      // member's exact signature — so every band differing by ≤ 1 bit
      // still collides (recall unchanged), while expected fan-out halves
      // from 1+16 to 1+popcount≈9 rows per band (r9 verdict #1: q35 was
      // the slowest query; the probe explosion fed 68 rows/doc into the
      // bucket shuffle — now ~37).
      val tagged = exploded.select(col("doc_id"), col("band"),
        explode(expr(
          "concat(array(named_struct('sig', sig, 'ex', 1)), " +
            s"transform(filter(sequence(0, ${bitsPerBand - 1}), " +
            "j -> (shiftright(sig, j) & 1L) = 1L), " +
            "j -> named_struct('sig', sig ^ shiftleft(1L, j), 'ex', 0)))")).as("p"))
        .select(col("doc_id"), col("band"), col("p.sig").as("sig"), col("p.ex").as("ex"))
      val cand = tagged.groupBy("band", "sig")
        .agg(collect_list(struct(col("doc_id"), col("ex"))).as("ms"))
        .observe("q35_simhash_buckets",
          sum(when(size(col("ms")) > BucketCap, 1).otherwise(0))
            .as("dropped_buckets"))
        .filter(size(col("ms")).between(2, BucketCap) && expr("exists(ms, m -> m.ex = 1)"))
        .select(explode(expr(
          "flatten(transform(filter(ms, y -> y.ex = 1), " +
            "y -> transform(ms, x -> struct(" +
            "least(x.doc_id, y.doc_id) AS doc_a, " +
            "greatest(x.doc_id, y.doc_id) AS doc_b))))")).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        // lossless noisy-regime cover: the sub-ShortDocShingles subset
        // routes through q56's pigeonhole-exact prefix filter (header
        // comment has the measurement and the 1.25× length-bound
        // argument); extra candidates only ever verify away
        .union(prefixCandidates(shortDocs(docsSh), checkpoint = false,
          dedup = false))
        .distinct()
        .transform(graft.Cut.lazyCut) // lazy cut (r19 opt)
      expandVerified(verifyOnShinglesUnsorted(s, docsSh, cand),
        members, within)
    })

  /** Shingle-count boundaries of q35's regime partition: simhash noise
    * is measured below ~64 distinct shingles ([[BandRegimeFloor]]),
    * and jac ≥ 0.8 bounds the partner at 1.25× — so covering all pairs
    * with a sub-64 side exactly needs both sides < 80
    * ([[ShortDocShingles]]); the [64, 80) overlap sits in both regimes
    * so no pair falls between them. */
  private val ShortDocShingles = 80
  private val BandRegimeFloor = 64

  // ------------------------------- q56 n-gram Jaccard via prefix filtering
  // Exact (deterministic) Jaccard-0.8 join, AllPairs/PPJoin family: order
  // each document's shingles by ascending corpus document frequency and
  // index only its first k − ⌈0.8k⌉ + 1 shingles. Any pair with
  // jac ≥ 0.8 must collide on some prefix shingle (pigeonhole: missing
  // all of A's prefix caps the overlap below ⌈0.8·|A|⌉ ≤ the overlap
  // jac ≥ 0.8 requires), so unlike the MinHash/SimHash paths there is no
  // recall-vs-cost dial — candidate loss is impossible, not just
  // improbable. Rare-first ordering keeps posting buckets near-singleton
  // (word-3-grams are mostly corpus-unique); the length filter
  // min(k) ≥ ⌈0.8·max(k)⌉ (jac ≤ |A|/|B| for |A| ≤ |B|) prunes inside the
  // bucket before any pair materializes. 100 TB posture: one hashing
  // pass, one O(total shingles) heavy-hitter aggregate, doc-local prefix
  // selection, and a bucket group over ~0.2k postings per doc — never
  // O(rows²); see prefixCandidates for the skew bound.
  val q56 = QueryDef(
    "q56_ngram_jaccard",
    Some(DuckNearDup),
    (s, dir) => {
      // ONE shingle pass serves prefix AND verify
      val docsSh = shingledDocs(s, t(s, dir, "documents"))
      verifyOnShingles(s, docsSh, prefixCandidates(docsSh))
    })

  /** (doc_id, sh: Array[String]) → lossless candidate pairs (doc_a < doc_b)
    * for Jaccard ≥ 0.8, by rare-first prefix filtering (q56 Scaladoc).
    *
    * Shingles become 8-byte xxhash64 classes — a collision merges two
    * global-order classes, which can only ADD candidates the exact
    * verify discards; the prefix pigeonhole argument runs on order
    * classes, so no true pair is ever lost (property-tested in
    * NearDupPropertySpec).
    *
    * The global order is (df, hash), with df known exactly for every
    * class in the df HEAD — the top [[graft.operators.PrefixIndex.DfHeadMax]]
    * classes by document frequency among those appearing in ≥
    * [[graft.operators.PrefixIndex.DfFloor]] documents — and
    * treated as 0 outside it. The head is a driver-collected broadcast
    * map whose size is CONSTANT-bounded at DfHeadMax entries,
    * corpus-INDEPENDENT (VERDICT r6 #1: the previous floor-only head
    * grew ∝ totalShingles/DfFloor — a driver OOM at 100 TB). Honest
    * budget: 2²⁰ entries in an immutable Map[Long, Long] is ~100-150 MB
    * of boxed keys/values + node overhead (NOT 16 MB of raw longs) —
    * still a fixed, configured constant that a driver sized for Spark
    * metadata holds comfortably; a packed primitive-array head (sorted
    * key array + binary search) is the drop-in if that budget ever
    * matters. Losslessness survives any head choice:
    * every doc orders classes by the same broadcast (df-or-0, hash)
    * key, which is a consistent corpus-global total order whatever df
    * values it contains — the prefix pigeonhole argument only needs
    * consistency, not accuracy. Rare-first QUALITY also survives: the
    * classes the cap evicts are the LOWEST-df members of the head, i.e.
    * the ones closest to the df≈0 treatment they fall back to. Skew
    * bound: a bucket's size ≤ its class's true df ≤ max(DfFloor, the
    * head's smallest df) for any class ranked outside the head — with a
    * Zipf corpus the 2²⁰-th df is small, so posting buckets stay narrow.
    * Plan shape: one checkpointed pass hashes the corpus, one aggregate
    * + TakeOrdered builds the head (no full sort — orderBy.limit
    * compiles to TakeOrderedAndProject), prefixes are selected
    * doc-locally against the broadcast, and the only remaining corpus
    * shuffle is the bucket group over ~20% of postings. No df join, no
    * per-doc window. */
  // The prefix-index stages below live in graft.operators.PrefixIndex
  // since r16 (shared with the standing-state provisioning); the
  // losslessness and budget arguments are documented there.
  import graft.operators.PrefixIndex

  private val DfHeadMax = PrefixIndex.DfHeadMax

  private[queries] def prefixCandidates(
      docs: DataFrame,
      // overridable so the property suite can prove losslessness under a
      // pathologically tiny head (every class evicted to the df≈0 tail)
      headMax: Int = DfHeadMax,
      // q56/q64 checkpoint here (verify consumes the result three
      // times); q34/q35 pass false — they union with banding candidates
      // and checkpoint the UNION, so an inner eager job is redundant
      checkpoint: Boolean = true,
      // q34/q35 also pass dedup = false: their union is distinct'd, so
      // the inner pair-level exchange was redundant (r20 opt)
      dedup: Boolean = true): DataFrame = {
    // The hash view used to be derived twice (df-head pass + prefix
    // pass) — "a cheap re-transform" that was in fact an INTERPRETED
    // array_distinct(transform(sh, xxhash64)) HOF over every corpus
    // shingle, twice (r20 optimization round, guide §1.2 step 2 / §5
    // recompute elimination). The lazy cut persists the hashed view
    // when the df-head action first computes it; the prefix pass then
    // reads 8-byte hash arrays from blocks instead of re-hashing.
    val hashed = PrefixIndex.hashed(docs).transform(graft.Cut.lazyCut)
    val pairs = PrefixIndex.postingsPairs(
      PrefixIndex.postings(hashed, PrefixIndex.dfHead(hashed, headMax)),
      dedup)
    // lazy cut (r19 opt): every consumer reference sits inside the one
    // output action; persist-on-first-use keeps the single pair
    // materialization without the up-front barrier job
    if (checkpoint) pairs.transform(graft.Cut.lazyCut) else pairs
  }

  // ------------------------------------- q36 embedding top pair per label
  /** Label-blocked embedding pairs with the codegen'd cosine — the ONE
    * pair-generation both q36 (top-1 per label) and q46 (threshold
    * filter) consume, so their oracle-paired plans stay provably
    * identical. */
  private[queries] def labelPairs(e: DataFrame): DataFrame =
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("sim_raw"))

  /** Skew-safe label-blocked pairs (VERDICT r8 next #6): [[labelPairs]]
    * shuffles on `label`, so ONE mega-label funnels its whole quadratic
    * pair workload into one task. Labels whose row count exceeds
    * `skewThreshold` are re-blocked with the triangle self-join scheme
    * (Okcan & Riedewald, SIGMOD'11 1-bucket theta-join, specialized to
    * self-joins): rows hash into `blocks` id-blocks; each unordered block
    * pair {p,q} is a CELL, each row replicates to its `blocks` cells, and
    * the join key becomes (label, cell) — so a mega-label's pairs spread
    * over blocks·(blocks+1)/2 tasks instead of one. Every (i, j) pair
    * materializes in exactly the cell {blk(i), blk(j)}; the canonical-cell
    * filter drops the duplicate appearances, which makes the output EXACTLY
    * [[labelPairs]] — this is a partitioning change, not an approximation
    * (the LlmOpsSpec skew case asserts set equality AND the spread).
    * Replication cost is `blocks`× on mega-label rows only; everything
    * else takes the plain one-shuffle path. */
  private val megaLabelCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Array[Any]]()

  def labelPairsSkewSafe(e: DataFrame, skewThreshold: Long = 1000000,
      blocks: Int = 8, memoKey: Option[String] = None): DataFrame = {
    def computeMega(): Array[Any] =
      e.groupBy("label").agg(count(lit(1)).as("n"))
        .filter(col("n") > skewThreshold)
        .select("label").collect().map(_.get(0)) // ≤ label-cardinality rows
    // the pre-count is one map-side-combined pass — trivial next to the
    // pair join it guards, and memoizable per (session, table) for
    // repeated queries over immutable inputs (q36/q46 share one entry)
    val megaLabels = memoKey match {
      case Some(k) =>
        megaLabelCache.computeIfAbsent((e.sparkSession, k), _ => computeMega())
      case None => computeMega()
    }
    if (megaLabels.isEmpty) return labelPairs(e)
    val isMega = col("label").isin(megaLabels: _*)
    val blk = pmod(hash(col("vec_id")), lit(blocks)).cast("int")
    val mega = e.filter(isMega).withColumn("blk", blk)
    // cell {p,q} encoded min·blocks+max; a block-p row belongs to cells
    // {p,0}..{p,blocks-1}
    val cells = array((0 until blocks).map(q =>
      least(col("blk"), lit(q)) * blocks + greatest(col("blk"), lit(q))): _*)
    val withCells = mega.withColumn("cell", explode(array_distinct(cells)))
    val triangle = withCells.as("a")
      .join(withCells.as("b"),
        col("a.label") === col("b.label") && col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      // keep each pair only in its canonical cell {blk_a, blk_b}
      .filter(col("a.cell") ===
        least(col("a.blk"), col("b.blk")) * blocks +
          greatest(col("a.blk"), col("b.blk")))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("sim_raw"))
    labelPairs(e.filter(!isMega)).unionAll(triangle)
  }

  val q36 = QueryDef(
    "q36_embedding_top_pair",
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            p AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                    list_cosine_similarity(a.v, b.v) AS sim
                  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                    ORDER BY sim DESC, vec_a, vec_b) AS rn FROM p)
            SELECT label, vec_a, vec_b, ROUND(sim, 4) AS sim
            FROM r WHERE rn = 1 ORDER BY label"""),
    (s, dir) => {
      // fully declarative: the codegen'd CosineSimilarity expression runs
      // the fused dot/norms loop inside whole-stage codegen right on the
      // blocked join output — same sequential double accumulation as
      // DuckDB's list_cosine_similarity, so the raw doubles (and the
      // top-1 selection on them) agree bit-for-bit
      val pairs = labelPairsSkewSafe(
        t(s, dir, "embeddings").select("label", "vec_id", "embedding"),
        memoKey = Some(s"$dir#embeddings"))
      val w = Window.partitionBy("label")
        .orderBy(col("sim_raw").desc, col("vec_a"), col("vec_b"))
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("label"), col("vec_a"), col("vec_b"),
          round(col("sim_raw"), 4).as("sim"))
        .orderBy("label")
    })

  // --------------------------------------------- q37 ANN (hyperplane LSH)
  /** 16 independent hash tables × 6 sign bits, planes fixed by seed — the
    * bucketed scale path for q28's exact brute force. Engine-only entry
    * (hash-seeded candidates have no cross-engine oracle); AnnSpec asserts
    * recall against the exact top-k. */
  val AnnBits = 6
  val AnnPlanes: Seq[Seq[Seq[Double]]] = {
    val r = new scala.util.Random(7)
    Seq.fill(16)(Seq.fill(AnnBits)(Seq.fill(64)(r.nextGaussian())))
  }

  /** Single-bit multiprobe expansion of exploded `(qid, tbl, sig)` query
    * signatures: each query probes its own bucket plus the [[AnnBits]]
    * buckets one sign-flip away. Query-side only — the corpus keeps one
    * `(tbl, sig)` pair per table, so the 7× blowup lands entirely on the
    * broadcast batch while per-table collision probability rises from
    * p^b to p^b + b·p^(b-1)(1−p). This is what lifts fixed-seed top-5
    * recall from 0.6 to ≥0.8 without touching corpus scan or join cost
    * (same trick as the SimHash band multiprobe). */
  def annQueryProbes(qSig: DataFrame): DataFrame = {
    val probes = col("sig") +:
      (0 until AnnBits).map(j => col("sig").bitwiseXOR(lit(1L << j)))
    qSig.select(col("qid"), col("tbl"), explode(array(probes: _*)).as("sig"))
  }

  def annSigs(v: Column): Column =
    transform(typedLit(AnnPlanes), tbl => aggregate(tbl, lit(0L),
      (acc, plane) => acc * 2 +
        when(VectorOps.dot(v, plane) > 0, 1L).otherwise(0L)))

  /** Compiled twin of [[annSigs]] — same planes, same sequential double
    * accumulation, bit-identical signatures (asserted in LlmOpsSpec).
    * The HOF version evaluates 96 interpreted lambda dot products per row
    * (~µs/element — the measured 100× blowup class from SCALING.md's
    * imperative-islands note; at sf0.1 it costs 8× the exact scan), so
    * the hot path runs the 16×6×dim loop as one typed map stage. */
  def annSigsCompiled(
      s: SparkSession, vecs: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    import s.implicits._
    val planes: Array[Array[Array[Double]]] =
      AnnPlanes.map(_.map(_.toArray).toArray).toArray
    vecs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Double])]
      .map { case (id, vSeq) =>
        val v = vSeq.toArray
        val sigs = new Array[Long](planes.length)
        var ti = 0
        while (ti < planes.length) {
          val tbl = planes(ti)
          var sig = 0L
          var pi = 0
          while (pi < tbl.length) {
            val plane = tbl(pi)
            var dot = 0.0
            var i = 0
            val n = math.min(v.length, plane.length)
            while (i < n) { dot += v(i) * plane(i); i += 1 }
            sig = sig * 2 + (if (dot > 0) 1L else 0L)
            pi += 1
          }
          sigs(ti) = sig
          ti += 1
        }
        (id, sigs.toSeq)
      }
      .toDF(idCol, "sigs")
  }

  /** ANN candidate generation + exact re-rank as a *bucket equi-join*
    * (VERDICT r3 #3). "Some hash table's signature matches" is literally
    * equality on the (table index, signature) pair, so both sides explode
    * their 16 pairs and hash-join on the pair — a BroadcastHashJoin that
    * only ever materializes colliding buckets, never the old
    * BroadcastNestedLoop that evaluated 16 comparisons against every
    * corpus row. One corpus pass serves the whole broadcast query batch
    * (q44's shape); the exact cosine then touches candidates only.
    * 100 TB: corpus side shuffles/scans (vec_id, tbl, sig) triples —
    * 20 bytes × 16 per vector — and with sig-bucketed storage the join
    * prunes untouched buckets entirely. */
  def annTopK(s: SparkSession, dir: String, queryPred: Column, k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
      .select(col("vec_id"), col("v"))
    val queries = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .localCheckpoint(true) // small batch, reused for buckets and re-rank
    // signature stages run compiled; the query side recomputes its own
    // few signatures rather than filtering the corpus pass (whose whole
    // expensive map would re-run inside that subtree)
    val cSig = annSigsCompiled(s, e, "vec_id", "v")
      .select(col("vec_id"), posexplode(col("sigs")).as(Seq("tbl", "sig")))
    val qSig = annQueryProbes(annSigsCompiled(s, queries, "qid", "qv")
      .select(col("qid"), posexplode(col("sigs")).as(Seq("tbl", "sig"))))
    val cand = cSig.join(broadcast(qSig), Seq("tbl", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    exactRerank(e, queries, cand, k)
  }

  /** Shared exact-cosine re-rank tail of the ANN paths: candidates join
    * back to corpus vectors (broadcast: candidates ≪ corpus), the
    * codegen'd cosine scores them against the broadcast query batch, one
    * window picks per-query top-k. */
  private def exactRerank(
      e: DataFrame, queries: DataFrame, cand: DataFrame, k: Int): DataFrame = {
    val scored = e
      .join(broadcast(cand), "vec_id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("vec_id"),
        VectorOps.cosine(col("v"), col("qv")).as("sim_raw"))
    val w = Window.partitionBy("qid").orderBy(col("sim_raw").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), round(col("sim_raw"), 4).as("sim"))
  }

  /** Cross-engine oracle for the hyperplane-LSH path (VERDICT r7 #6):
    * the engine's seeded planes are emitted as DOUBLE literals INTO the
    * SQL ([[java.lang.Double.toString]] is shortest-round-trip, so DuckDB
    * reparses the exact same doubles), making the "engine-seeded"
    * candidates reproducible by any engine — the signature is just 6
    * sign tests per table over the same constants. DuckDB's
    * list_dot_product reassociates the sum differently than our
    * sequential accumulation (measured: ~half of all dots differ in the
    * last ulp) but the SIGN agrees on every (vector, plane) pair of the
    * fixed testdata, which is the only thing the signature consumes; the
    * re-rank tail reuses q28's proven list_cosine_similarity parity. */
  private def annOracleSql: String = {
    def planeLit(p: Seq[Double]) = p.mkString("[", ",", "]")
    // plane 0 is the MSB: the engine folds sig = sig*2 + bit
    def sigExpr(v: String, tbl: Seq[Seq[Double]]) = tbl.zipWithIndex.map {
      case (plane, i) =>
        s"(CASE WHEN list_dot_product($v, ${planeLit(plane)}::DOUBLE[]) > 0 " +
          s"THEN ${1L << (AnnBits - 1 - i)} ELSE 0 END)"
    }.mkString("(", " + ", ")::BIGINT")
    def sigStructs(v: String) = AnnPlanes.zipWithIndex.map { case (tbl, ti) =>
      s"{'tbl': $ti, 'sig': ${sigExpr(v, tbl)}}"
    }.mkString("[", ", ", "]")
    val probes = ("sig" +: (0 until AnnBits).map(j => s"xor(sig, ${1L << j})"))
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id = 0),
        csig AS (SELECT vec_id, u.tbl AS tbl, u.sig AS sig FROM (
          SELECT vec_id, unnest(${sigStructs("v")}) AS u FROM e)),
        qsig AS (SELECT qid, u.tbl AS tbl, u.sig AS sig FROM (
          SELECT qid, unnest(${sigStructs("qv")}) AS u FROM q)),
        qprobe AS (SELECT qid, tbl, unnest($probes) AS sig FROM qsig),
        cand AS (SELECT DISTINCT qid, vec_id
                 FROM csig JOIN qprobe USING (tbl, sig) WHERE vec_id <> qid),
        scored AS (SELECT cand.qid AS qid, cand.vec_id AS vec_id,
                          list_cosine_similarity(e.v, q.qv) AS sim_raw
                   FROM cand JOIN e USING (vec_id) JOIN q USING (qid)),
        ranked AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
                     PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rn
                   FROM scored)
        SELECT vec_id, ROUND(sim_raw, 4) AS sim
        FROM ranked WHERE rn <= 5 ORDER BY sim DESC, vec_id"""
  }

  val q37 = QueryDef(
    "q37_ann_topk",
    Some(annOracleSql),
    (s, dir) => annTopK(s, dir, col("vec_id") === 0, 5)
      .select(col("vec_id"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id")))

  // ----------------------------------------------- q38 language-ID (X5)
  val q38 = QueryDef(
    "q38_langid_confusion",
    Some(s"""WITH t AS (SELECT lang, string_split(lower(text), ' ') AS tk
                        FROM documents)
             SELECT lang, ${TextOps.predictedLangDuckSql("tk")} AS predicted,
                    COUNT(*) AS cnt
             FROM t GROUP BY lang, predicted ORDER BY lang, predicted"""),
    (s, dir) => t(s, dir, "documents")
      .select(col("lang"),
        TextOps.predictedLang(TextOps.tokens(col("text"))).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "predicted"))

  // -------------------------------------------- q39 quality scoring (X5)
  val q39 = QueryDef(
    "q39_quality_score",
    Some("""WITH t AS (SELECT lang, text, n_chars,
                         string_split(lower(text), ' ') AS tk
                       FROM documents)
            SELECT lang,
                   COUNT(*) AS docs,
                   ROUND(AVG(len(tk)), 2) AS avg_tokens,
                   ROUND(AVG(len(replace(text, ' ', ''))::DOUBLE / len(tk)), 2) AS avg_word_len,
                   ROUND(AVG(len(list_filter(tk, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'on', 'for')))::DOUBLE / len(tk)), 4) AS stopword_ratio,
                   ROUND(AVG(n_chars), 2) AS avg_chars
            FROM t GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      val tk = TextOps.tokens(col("text"))
      val enWords = TextOps.Stopwords.toMap.apply("en")
      t(s, dir, "documents")
        .select(col("lang"), col("n_chars"), tk.as("tk"),
          length(regexp_replace(col("text"), " ", "")).as("letters"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("docs"),
          round(avg(size(col("tk"))), 2).as("avg_tokens"),
          round(avg(col("letters").cast("double") / size(col("tk"))), 2).as("avg_word_len"),
          round(avg(TextOps.stopwordHits(col("tk"), enWords).cast("double")
            / size(col("tk"))), 4).as("stopword_ratio"),
          round(avg(col("n_chars")), 2).as("avg_chars"))
        .orderBy("lang")
    })

  // -------------------------------------------- q40 token counting (X3)
  val q40 = QueryDef(
    "q40_token_stats",
    Some("""SELECT lang,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
                   CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS re_tokens
            FROM documents GROUP BY lang ORDER BY lang"""),
    (s, dir) => t(s, dir, "documents")
      .groupBy("lang")
      .agg(
        sum(size(split(col("text"), " "))).as("ws_tokens"),
        sum(size(expr("""regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)""")))
          .as("re_tokens"))
      .orderBy("lang"))

  // -------------------------------------- q41 document fingerprint (X4)
  val q41 = QueryDef(
    "q41_fingerprint",
    Some("""SELECT lang, COUNT(*) AS docs,
                   COUNT(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS distinct_fp
            FROM documents GROUP BY lang ORDER BY lang"""),
    (s, dir) => t(s, dir, "documents")
      .select(col("lang"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"), countDistinct(col("fp")).as("distinct_fp"))
      .orderBy("lang"))

  // ------------------------------------------ q42 session window (§2.10)
  val q42 = QueryDef(
    "q42_session_window",
    Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
            m AS (SELECT user_id, ts,
                    CASE WHEN lag(ts) OVER w IS NULL
                           OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS ns
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s2 AS (SELECT user_id, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid FROM m),
            g AS (SELECT user_id, sid, COUNT(*) AS c FROM s2 GROUP BY user_id, sid)
            SELECT CAST(COUNT(*) AS BIGINT) AS sessions,
                   ROUND(AVG(c), 2) AS avg_events,
                   CAST(MAX(c) AS BIGINT) AS max_events
            FROM g"""),
    (s, dir) => t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("sessions"),
        round(avg(col("c")), 2).as("avg_events"),
        max(col("c")).as("max_events")))

  // ------------------------------------------------- q43 map functions (F11)
  val q43 = QueryDef(
    "q43_map_fns",
    Some("""SELECT p_partkey, p_brand AS brand_v, 2 AS nkeys,
                   p_brand || '|' || p_type AS vals
            FROM part ORDER BY p_partkey"""),
    (s, dir) => {
      val m = map(lit("brand"), col("p_brand"), lit("type"), col("p_type"))
      t(s, dir, "part")
        .select(col("p_partkey"),
          element_at(m, "brand").as("brand_v"),
          size(map_keys(m)).as("nkeys"),
          concat_ws("|", map_values(m)).as("vals"))
        .orderBy("p_partkey")
    })

  // ------------------------------------------ q44 batched similarity topk
  // Multi-query batching (the r1 verdict flagged q28 as single-vector
  // only): all query vectors broadcast once, ONE candidate pass computes
  // every (query, candidate) similarity with the codegen'd cosine, one
  // window picks per-query top-k. At 100 TB this is the shape that
  // amortizes the corpus scan across a query batch.
  val q44 = QueryDef(
    "q44_batch_topk",
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 8),
            c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            s AS (SELECT q.qid, c.vec_id,
                    list_cosine_similarity(c.v, q.qv) AS sim
                  FROM c, q WHERE c.vec_id <> q.qid),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY sim DESC, vec_id) AS rn FROM s)
            SELECT qid, vec_id, ROUND(sim, 4) AS sim
            FROM r WHERE rn <= 3 ORDER BY qid, vec_id"""),
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val sims = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VectorOps.cosine(col("embedding"), col("qv")).as("sim_raw"))
      val w = Window.partitionBy("qid").orderBy(col("sim_raw").desc, col("vec_id"))
      sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id"), round(col("sim_raw"), 4).as("sim"))
        .orderBy("qid", "vec_id")
    })

  // ------------------------------------------- q47 IVF ANN (second path)
  /** IVF-style coarse quantizer next to hyperplane LSH (q37): K fixed
    * centroid vectors (deterministic — the K lowest vec_ids stand in for
    * a k-means codebook; swap in trained centroids and nothing else
    * changes), every corpus vector assigned to its nearest centroid in
    * one compiled pass, queries probe their nProbe nearest centroids and
    * re-rank only those buckets exactly. Candidate volume ≈ nProbe/K of
    * the corpus; at scale the bucket id is a stored partition column, so
    * probes prune at the scan. */
  val IvfK = 64
  val IvfProbes = 16

  /** (id, bucket) rows: each vector's `nProbe` nearest centroids by
    * cosine, compiled (K dot products per row — same imperative-island
    * rationale as [[annSigsCompiled]]). */
  /** The nearest-centroid kernel both assignment spellings compile:
    * top-`nProbe` bucket indices by cosine, (sim DESC, bucket ASC) tie
    * order, degenerate norms pinned to sim −2 so they sort last
    * deterministically. */
  private def nearestBuckets(v: Array[Double],
      centroids: Array[Array[Double]], cNorms: Array[Double],
      nProbe: Int): Seq[Int] = {
    var vn = 0.0; var i = 0
    while (i < v.length) { vn += v(i) * v(i); i += 1 }
    val vNorm = math.sqrt(vn)
    val sims = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val ct = centroids(c)
      var dot = 0.0; var j = 0
      val n = math.min(v.length, ct.length)
      while (j < n) { dot += v(j) * ct(j); j += 1 }
      sims(c) =
        if (vNorm == 0 || cNorms(c) == 0) -2.0
        else dot / (vNorm * cNorms(c))
      c += 1
    }
    sims.indices.sortBy(b => (-sims(b), b)).take(nProbe)
  }

  def ivfAssignCompiled(
      s: SparkSession, vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], nProbe: Int): DataFrame = {
    import s.implicits._
    val cNorms = centroids.map(ct => math.sqrt(ct.map(x => x * x).sum))
    vecs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Double])]
      .flatMap { case (id, vSeq) =>
        nearestBuckets(vSeq.toArray, centroids, cNorms, nProbe)
          .map(b => (id, b))
      }.toDF(idCol, "bucket")
  }

  /** [[KMeansTrainer.train]]'s assignment: nearest bucket with the
    * VECTOR carried through as (bucket, v), so a Lloyd round is ONE
    * corpus scan feeding the mean aggregate directly — no equi-join
    * back to the vector table (VERDICT r16 wrong #1). Same kernel,
    * same tie order as [[ivfAssignCompiled]]. */
  def ivfAssignCarry(
      s: SparkSession, vecs: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val cNorms = centroids.map(ct => math.sqrt(ct.map(x => x * x).sum))
    vecs.select(col("v"))
      .as[Seq[Double]]
      .map { vSeq =>
        (nearestBuckets(vSeq.toArray, centroids, cNorms, 1).head, vSeq)
      }.toDF("bucket", "v")
  }

  /** Lloyd-refined codebook: seed with the K lowest vec_ids, then
    * `iters` rounds of [[graft.operators.KMeansTrainer]] (X45) with the
    * compiled cosine assignment — one corpus scan per stage, K·d driver
    * cells per round, empty buckets keep their previous centroid.
    * Trained once per (session, dir) and cached: a real codebook
    * balances bucket occupancy on skewed corpora, which is what keeps
    * nProbe/K candidate volume honest at 100 TB. Since r16 the update
    * is the trainer's HASH-EXACT decimal mean, so the learned centroids
    * are bit-identical across engines and partitionings — q169/q170
    * hash-gate this codebook against a DuckDB oracle that relearns it
    * through unrolled CTE rounds (the q156/q163 BPE pattern). */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Array[Array[Double]]]()

  def trainedCodebook(s: SparkSession, dir: String, e: DataFrame,
      iters: Int = 2): Array[Array[Double]] =
    codebookCache.computeIfAbsent((s, dir), { _ =>
      val seeds: Array[Array[Double]] = e.filter(col("vec_id") < IvfK)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
      graft.operators.KMeansTrainer.train(e, seeds, iters)(
        (corpus, cents) => ivfAssignCarry(s, corpus, cents))
    })

  /** `trained = false` pins the codebook to the raw seed (the K lowest
    * vec_ids, no Lloyd rounds). That variant is what the q47 gate runs:
    * the centroids are then TABLE ROWS both engines read identically, so
    * the whole IVF pipeline — nearest-centroid assignment, nProbe
    * probing, exact re-rank — is reproducible in the DuckDB oracle with
    * no float literals at all. The Lloyd-trained codebook stays the
    * production path (balanced buckets on skewed corpora) and keeps its
    * recall/bucket-quality coverage in LlmOpsSpec; training is the ONLY
    * difference — both variants share every operator downstream. */
  def ivfTopK(s: SparkSession, dir: String, queryPred: Column, k: Int,
      trained: Boolean = true): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
      .select(col("vec_id"), col("v"))
    val centroids =
      if (trained) trainedCodebook(s, dir, e)
      else e.filter(col("vec_id") < IvfK).orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toArray)
    val queries = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .localCheckpoint(true)
    val corpusBuckets = ivfAssignCompiled(s, e, "vec_id", "v", centroids, 1)
    val qProbes = ivfAssignCompiled(s, queries, "qid", "qv", centroids, IvfProbes)
    val cand = corpusBuckets.join(broadcast(qProbes), "bucket")
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    exactRerank(e, queries, cand, k)
  }

  /** Oracle for the pinned-codebook IVF gate (VERDICT r7 #6): centroids
    * are the first [[IvfK]] corpus vectors, so both engines read the same
    * doubles from the same parquet; assignment is an argmin window over
    * the K-row centroid cross join (K = 64 — this is the oracle spelling,
    * not the engine plan, which runs the compiled K-dot-product pass and
    * a bucket equi-join). Tie-breaks mirror the engine exactly: sim DESC
    * then centroid id ASC, matching ivfAssignCompiled's `(-sim, b)`. */
  private def ivfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfK),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id = 0),
        casg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c) WHERE rn = 1),
        qasg AS (SELECT qid, cid AS bucket FROM (
          SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
            ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
          FROM q, c) WHERE rn <= $IvfProbes),
        cand AS (SELECT DISTINCT qid, vec_id
                 FROM casg JOIN qasg USING (bucket) WHERE vec_id <> qid),
        scored AS (SELECT cand.qid AS qid, cand.vec_id AS vec_id,
                          list_cosine_similarity(e.v, q.qv) AS sim_raw
                   FROM cand JOIN e USING (vec_id) JOIN q USING (qid)),
        ranked AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
                     PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rn
                   FROM scored)
        SELECT vec_id, ROUND(sim_raw, 4) AS sim
        FROM ranked WHERE rn <= 5 ORDER BY sim DESC, vec_id"""

  val q47 = QueryDef(
    "q47_ivf_topk",
    Some(ivfOracleSql),
    (s, dir) => ivfTopK(s, dir, col("vec_id") === 0, 5, trained = false)
      .select(col("vec_id"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id")))

  // --------------------------------------- q46 embedding-cosine near-dup
  // The dedup mode over embeddings rather than text (north star): same
  // label-blocked pair generation as q36, thresholded instead of top-1 —
  // the candidate set for near-duplicate record elimination. The filter
  // runs on the raw double (identical sequential accumulation on both
  // engines → bit-exact at the threshold boundary); rounding is display
  // only. 100 TB: the label block bounds pair fan-out exactly like q36,
  // and the ANN bucket join (q37) is the unblocked-corpus path.
  val q46 = QueryDef(
    "q46_embedding_neardup",
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            p AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                    list_cosine_similarity(a.v, b.v) AS sim
                  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
            SELECT label, vec_a, vec_b, ROUND(sim, 4) AS sim
            FROM p WHERE sim >= 0.35 ORDER BY label, vec_a, vec_b"""),
    (s, dir) => {
      labelPairsSkewSafe(
        t(s, dir, "embeddings").select("label", "vec_id", "embedding"),
        memoKey = Some(s"$dir#embeddings"))
        .filter(col("sim_raw") >= 0.35)
        .select(col("label"), col("vec_a"), col("vec_b"),
          round(col("sim_raw"), 4).as("sim"))
        // lazy cut (r20 opt, guide §2.4): the output sort's range
        // exchange SAMPLES its child to compute partition bounds, and
        // with only broadcast joins below there is no materialized
        // shuffle to shield the pair join — the whole cosine join ran
        // twice per action (JobProfile: 1.06 s + 0.61 s twin jobs).
        // The cut persists the output-scale thresholded pairs; the
        // sample pass materializes them once and the sort reads blocks.
        // Consumers (sampler + exchange) sit inside the one output
        // action — the established lazy-cut invariant.
        .transform(graft.Cut.lazyCut)
        .orderBy("label", "vec_a", "vec_b")
    })

  // ------------------ q57 benchmark contamination (train/test overlap)
  // The decontamination step of a training pipeline: score each training
  // document by the fraction of its 3-gram shingles that appear ANYWHERE
  // in a held-out benchmark corpus (here the deterministic doc_id % 10
  // slice), and flag docs above 50% containment. Distinct from dedup:
  // containment is asymmetric (a training doc embedding one benchmark
  // item among other text still flags) and the reference set is a
  // different corpus, not the doc's own. Plan shape: one shuffle builds
  // the distinct benchmark shingle set, candidates explode to postings
  // and equi-join it (broadcast or shuffle by size — never a cross
  // product), then a per-doc aggregate forms the integer-ratio fraction
  // both engines compute identically. 100 TB: the benchmark side is the
  // small one by construction (held-out sets are ≪ training corpora);
  // a broadcast bloom filter over its shingles pre-trims candidate
  // postings BEFORE the equi-join (VERDICT r6 next #6). The bloom's
  // false-positive rate has NO effect on the result: the join after it
  // is exact, so a false positive just pays the join it would have paid
  // anyway, and bloom filters have no false negatives — only join
  // traffic changes, never the answer. `total` comes from size(sh)
  // (shingle sets are distinct by construction), so trimming postings
  // cannot distort the denominator.
  val q57 = QueryDef(
    "q57_contamination",
    Some(DuckShingles +
      """, bench AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 10 = 0),
         cand AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 10 <> 0),
         m AS (SELECT c.doc_id, COUNT(*) AS total, COUNT(b.g) AS hit
               FROM cand c LEFT JOIN bench b ON c.g = b.g GROUP BY c.doc_id)
         SELECT doc_id, ROUND(hit::DOUBLE / total, 4) AS contamination
         FROM m WHERE hit::DOUBLE / total >= 0.5 ORDER BY doc_id"""),
    (s, dir) => {
      import s.implicits._
      val shingled = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) => (id, TextOps.shingleSet(text)) }
        .toDF("doc_id", "sh")
        .filter(size(col("sh")) > 0)
        .localCheckpoint(true) // both sides of the split read it
      val bench = shingled.filter(col("doc_id") % 10 === 0)
        .select(explode(col("sh")).as("g")).distinct()
        .localCheckpoint(true) // consumed by count, bloom build AND join
      val bloom = bench.stat.bloomFilter("g", math.max(bench.count(), 1L), 0.01)
      val bBloom = s.sparkContext.broadcast(bloom)
      val mightContain =
        udf((g: String) => g != null && bBloom.value.mightContainString(g))
      val candDocs = shingled.filter(col("doc_id") % 10 =!= 0)
      val totals = candDocs.select(col("doc_id"), size(col("sh")).as("total"))
      val hits = candDocs.select(col("doc_id"), explode(col("sh")).as("g"))
        .filter(mightContain(col("g"))) // bloom trim, then the exact join
        .join(bench, Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("hit"))
      // inner join on hits: a doc needs hits to reach the 0.5 floor
      totals.join(hits, Seq("doc_id"))
        .filter(col("hit").cast("double") / col("total") >= 0.5)
        .select(col("doc_id"),
          round(col("hit").cast("double") / col("total"), 4).as("contamination"))
        .orderBy("doc_id")
    })

  // ------------------- q55 composite training-data pipeline (north star)
  /** The canonical pre-training cleanup arc as ONE declarative plan:
    * quality gate (token-count floor) → exact dedup keeping the earliest
    * doc per text → per-language corpus stats. The dedup window
    * partitions on the 128-bit xxhash pair of the text, not the text
    * itself — at 100 TB the shuffle carries 16-byte keys instead of
    * document payloads (same trick as [[RelQueries.dedupHashKeyed]]);
    * output is identical to text-keyed dedup absent a 128-bit collision,
    * and the DuckDB oracle partitions on the raw text to prove it. */
  val q55 = QueryDef(
    "q55_pipeline",
    Some("""WITH t AS (SELECT doc_id, lang,
                         len(string_split(lower(text), ' ')) AS n_tokens, text
                       FROM documents WHERE text IS NOT NULL),
                 f AS (SELECT * FROM t WHERE n_tokens >= 5),
                 d AS (SELECT *, row_number() OVER
                         (PARTITION BY text ORDER BY doc_id) AS rn FROM f)
            SELECT lang, COUNT(*) AS docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   ROUND(AVG(n_tokens), 2) AS avg_tokens
            FROM d WHERE rn = 1 GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), col("text"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        .filter(col("n_tokens") >= 5)
      // two INDEPENDENT inputs for ~128-bit keys: xxhash64(text, 1) and
      // xxhash64(text, 2) chain the same 64-bit state (the literal is
      // folded into the running hash), so any XXH64(text) collision
      // collides BOTH — reverse(text) breaks the dependence, same trick
      // as RelQueries.dedupHashKeyed
      val w = Window
        .partitionBy(xxhash64(col("text")), xxhash64(reverse(col("text"))))
        .orderBy(col("doc_id"))
      base.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_tokens")), 2).as("avg_tokens"))
        .orderBy("lang")
    })

  /** Q64: near-dup CLUSTERS — the step a real dedup pipeline runs after
    * pair generation: connected components over the (lossless, q56-path)
    * near-dup graph, each document labeled with its component's minimum
    * doc_id. Downstream "keep one per cluster" is then `doc_id =
    * cluster`. Components run as alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — the algorithm GraphFrames ships): large-star rewires every
    * strictly-larger neighbor of each node to that node's local minimum;
    * small-star rewires the smaller side. Each pass is one O(E) shuffle,
    * and the pair contracts component diameter geometrically, so rounds
    * are O(log n) even on adversarial long chains (plain min-label
    * propagation — the r7/r8 spelling — needs diameter rounds, which is
    * what made it the wrong 100 TB answer). Convergence is exact, not
    * probabilistic: the edge set is a fixpoint iff it is a star forest
    * (no node is both a child and a parent), checked with one left-semi
    * probe per round — star edges always point child→component-min, so a
    * star forest is simultaneously the answer. At 100 TB the loop holds:
    * E is the verified-pair count, orders below the corpus, and every
    * round touches only edges, never payloads. The oracle replays the
    * brute-force pair set through a recursive-CTE reachability closure —
    * affordable only at oracle scale, like the q34/q56 oracles. */
  /** The connected-components CTE chain both q64 and q161 build on:
    * shingle-set Jaccard ≥ 0.8 pair graph, recursive reachability,
    * min-id component labels as `ccl(doc_id, cluster)`. */
  private val CcOracleCtes =
    DuckShingles.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(a.sh || b.sh)) AS jac
                 FROM s a JOIN s b ON a.doc_id < b.doc_id),
         pr AS (SELECT doc_a, doc_b FROM p
                WHERE NOT isnan(jac) AND jac >= 0.8),
         e AS (SELECT doc_a AS a, doc_b AS b FROM pr
               UNION SELECT doc_b, doc_a FROM pr),
         reach AS (SELECT a, b FROM e
                   UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         ccl AS (SELECT a AS doc_id, MIN(b) AS cluster
                 FROM (SELECT a, b FROM reach UNION SELECT a, a FROM e) u
                 GROUP BY a)"""

  /** q64's cluster table WITHOUT the output ORDER BY — the shared core
    * (r20 optimization round, the q165 dead-work precedent): q64 itself
    * sorts for display, but q161's keepDecision and q168's arc table
    * consume only the (doc_id, cluster) SET, so routing them through
    * q64.run paid a dead global sort of the label table — and the
    * verify's own output sort before connectedComponents was equally
    * dead (the cc edge prep re-shuffles via distinct immediately). */
  private def dedupClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val docsSh = shingledDocs(s, t(s, dir, "documents"))
    val pairs = graft.operators.PrefixIndex
      .verifyPairs(docsSh, prefixCandidates(docsSh))
      .select(col("doc_a"), col("doc_b"))
    connectedComponents(pairs)
  }

  val q64 = QueryDef(
    "q64_dedup_clusters",
    Some(CcOracleCtes +
      " SELECT doc_id, cluster FROM ccl ORDER BY doc_id"),
    (s, dir) => dedupClusterLabels(s, dir).orderBy("doc_id"))

  /** Large-star half-round: at each node u, m(u) = min(Γ(u) ∪ {u});
    * every neighbor v > u is rewired to (v, m(u)). Output edges always
    * have src > dst (m(u) ≤ u < v) — exactly the orientation small-star
    * expects. */
  private[queries] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = sym.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    sym.filter(col("dst") > col("src")).join(m, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Small-star half-round: input oriented src > dst; at each node u,
    * m(u) = min of its (all-smaller) children; u and every child are
    * rewired to m(u). Self-loops (the child that IS the min) drop
    * out. */
  private[queries] def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("src").agg(min(col("dst")).as("m"))
    e.join(m, "src").select(col("dst").as("src"), col("m").as("dst"))
      .union(m.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Distributed connected components over an undirected pair list
    * (`doc_a < doc_b` rows) by alternating [[largeStar]]/[[smallStar]]
    * (Kiveris et al., SoCC'14): O(E) shuffles per round, O(log n)
    * rounds on any diameter. Returns every endpoint labeled with its
    * component's minimum id as (doc_id, cluster).
    *
    * Convergence is exact: the edge set is a fixpoint of both ops iff it
    * is a star forest — no parent is itself a child AND no node has two
    * parents ({(3,1),(3,2)} has disjoint src/dst sets yet small-star
    * still merges it) — and a star forest's edges ARE the answer (ops
    * preserve connectivity; edges always point downward). One probe job
    * per round (union of both violation kinds, take-1) over the
    * just-checkpointed edge set — no full-set compare.
    *
    * Hybrid execution: below `localThreshold` edges the labeling runs as
    * driver union-find (union-by-min + path compression) instead — the
    * verified pair graph is orders below corpus scale, its size falls
    * out of the initial checkpoint for free, and a sub-threshold graph
    * labels in microseconds where the distributed loop pays several
    * rounds of fixed job latency. Both paths produce the identical
    * min-label result (spec-pinned). */
  private[queries] def connectedComponents(pairs: DataFrame,
      localThreshold: Long = 1L << 20): DataFrame = {
    val s = pairs.sparkSession
    val Array(lo, hi) = pairs.columns
    // Edge count observed DURING the eager checkpoint job (r20
    // optimization round, guide §1.2 step 1): the separate count()
    // action over the persisted blocks was one whole driver job of
    // fixed latency spent re-learning a number the checkpoint job
    // already knew. `observe` rides the same execution (CollectMetrics
    // is exact — no sampling), and Observation.get returns the settled
    // value as soon as the checkpoint action completes.
    val obs = org.apache.spark.sql.Observation()
    var edges = pairs.select(col(hi).as("src"), col(lo).as("dst"))
      .distinct().observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    // The verified near-dup pair set is orders below corpus scale (it is
    // the output of candidate generation + exact verification, not the
    // corpus), and its size is already known for free from the
    // checkpoint. Below `localThreshold` edges (default 2²⁰ ≈ 16 MB of
    // longs) a driver union-find labels the graph in microseconds where
    // the distributed loop pays multiple shuffle rounds of fixed job
    // latency; the star-alternation path below stays the 100 TB
    // fallback and the LlmOpsSpec chain/clique cases pin both paths to
    // identical labelings.
    val edgeCount = obs.get("n").asInstanceOf[Long]
    if (edgeCount <= localThreshold) {
      import s.implicits._
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // union by MIN root, so every find() lands on the component minimum
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
      return nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "cluster")
    }
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
      converged =
        edges.groupBy("src").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).select(col("src"))
          .union(edges.join(
            edges.select(col("dst").as("src")), Seq("src"), "leftsemi")
            .select(col("src")))
          .isEmpty
      rounds += 1
    }
    edges.select(col("src").as("doc_id"), col("dst").as("cluster"))
      .union(edges.select(col("dst"), col("dst")).distinct())
  }

  /** Skew-safe stratified top-quota selection (VERDICT r8 next #6): the
    * exact sample is the `quota` smallest rows per stratum under the
    * content-keyed (md5(text), doc_id) order. One window keyed on the
    * stratum alone puts a mega-stratum's entire sort in one task; when
    * any stratum exceeds `skewThreshold` rows (one map-side-combined
    * count pass — trivial next to the window shuffle it guards), a
    * two-phase refinement runs instead: phase 1 windows on
    * (stratum, salt) — `salts`× the parallelism — keeping each salt
    * group's top `quota`; phase 2 runs the exact stratum window over the
    * ≤ salts·quota survivors. Exact by containment: every row of the
    * true per-stratum top-quota is necessarily within its own salt
    * group's top-quota, so phase 1 never discards an answer row — the
    * LlmOpsSpec skew case asserts bit-equality with the naive window
    * plus the salted phase-1 spread. */
  def stratifiedTopK(docs: DataFrame, stratumCol: String, quota: Int,
      skewThreshold: Long = 1L << 22, salts: Int = 32): DataFrame = {
    val ord = Seq(md5(col("text")), col("doc_id"))
    val maxRow = docs.groupBy(stratumCol).agg(count(lit(1)).as("n"))
      .agg(max("n")).head()
    val maxStratum = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val survivors =
      if (maxStratum <= skewThreshold) docs
      else {
        val w1 = Window.partitionBy(col(stratumCol), col("salt")).orderBy(ord: _*)
        docs.withColumn("salt", pmod(hash(col("doc_id")), lit(salts)))
          .withColumn("rk1", row_number().over(w1))
          .filter(col("rk1") <= quota)
          .drop("rk1", "salt")
      }
    val w = Window.partitionBy(col(stratumCol)).orderBy(ord: _*)
    survivors.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .drop("rk")
  }

  /** Q65: deterministic STRATIFIED SAMPLING — the domain-mixing
    * primitive of a training-data pipeline: cap each stratum (language)
    * at a per-stratum quota, choosing WHICH documents survive by a
    * content-keyed hash order (md5 — identical bits in both engines), so
    * the sample is (a) reproducible across runs and engines, (b)
    * unbiased w.r.t. document position, (c) one window pass, no
    * per-stratum driver loop. At 100 TB the same plan holds: the window
    * shuffles on the (low-cardinality) stratum key; a skewed mega-
    * stratum routes through [[stratifiedTopK]]'s two-phase refinement
    * (per-salt-group top-quota, then the exact window over the ≤
    * salts·quota survivors). */
  val q65 = QueryDef(
    "q65_stratified_sample",
    Some("""WITH r AS (SELECT lang, doc_id, n_chars,
                         ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY md5(text), doc_id) AS rk
                       FROM documents)
            SELECT lang, COUNT(*) AS sampled,
                   CAST(SUM(n_chars) AS BIGINT) AS sample_chars,
                   MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
            FROM r WHERE rk <= 200
            GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      stratifiedTopK(
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"), col("n_chars"), col("text")),
        "lang", 200)
        .groupBy("lang")
        .agg(count(lit(1)).as("sampled"),
          sum(col("n_chars")).as("sample_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("lang")
    })

  /** Q67: DOCUMENT PACKING — concat-and-chunk sequence assembly, the step
    * between a filtered corpus and a trainer: documents are concatenated
    * in a deterministic content-keyed order (md5, doc_id tie-break — the
    * q65 reproducibility argument) and chunked into fixed token-budget
    * shards; a document's shard is the chunk containing its FIRST token
    * (`floor(exclusive-prefix-sum / budget)`). One window pass per
    * stratum computes the prefix sums; everything downstream is integer
    * arithmetic, so the oracle comparison is exact. 100 TB posture: the
    * window shuffles on the low-cardinality stratum key (lang), so
    * strata pack in parallel; a single mega-stratum would use the
    * standard two-pass distributed prefix sum (per-partition partials →
    * broadcast offsets) — same contract, no global single-task sort. */
  val q67 = QueryDef(
    "q67_doc_packing",
    Some("""WITH d AS (SELECT lang, doc_id, text,
                         len(string_split(text, ' ')) AS tok
                       FROM documents),
            c AS (SELECT lang, doc_id, tok,
                    SUM(tok) OVER (PARTITION BY lang
                      ORDER BY md5(text), doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
                  FROM d),
            sh AS (SELECT lang,
                     CAST(FLOOR((cum - tok) / 2048.0) AS BIGINT) AS shard,
                     COUNT(*) AS docs, SUM(tok) AS toks
                   FROM c GROUP BY lang, shard)
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS shards,
                   CAST(SUM(docs) AS BIGINT) AS docs,
                   CAST(SUM(toks) AS BIGINT) AS tokens,
                   CAST(MAX(toks) AS BIGINT) AS max_shard_tokens,
                   CAST(SUM(CASE WHEN toks >= 2048 THEN 1 ELSE 0 END) AS BIGINT)
                     AS full_shards
            FROM sh GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      val budget = 2048
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("text")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        .withColumn("cum", sum(col("tok")).over(w))
        .select(col("lang"),
          floor((col("cum") - col("tok")) / lit(budget.toDouble)).as("shard"),
          col("tok"))
        .groupBy("lang", "shard")
        .agg(count(lit(1)).as("docs"), sum(col("tok")).as("toks"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("shards"),
          sum(col("docs")).as("docs"),
          sum(col("toks")).as("tokens"),
          max(col("toks")).as("max_shard_tokens"),
          sum(when(col("toks") >= budget, 1).otherwise(0)).as("full_shards"))
        .orderBy("lang")
    })

  /** Q68: PII DETECTION + REDACTION — the scrubbing pass every
    * web-scale corpus runs before training (emails, IPv4 addresses,
    * 16-digit card numbers → placeholder tokens). The sf documents are
    * synthetic bag-of-words with no natural PII, so the query first
    * DERIVES a deterministic PII-bearing column from the row (same
    * concat on both engines — the operator under test is the regex
    * pipeline, not the generator). Patterns are RE2∩java.util.regex
    * compatible (no lookaround/backrefs) so both engines compile the
    * same automaton; Spark's regexp_replace is all-occurrences by
    * default, DuckDB needs the explicit 'g' flag. Outputs are integer
    * counts + redacted-length sums — exact under the hash contract.
    * 100 TB posture: embarrassingly parallel map + one partial-agg
    * shuffle on lang; regex matching stays in codegen (built-in
    * regexp_* functions, no UDF). */
  val q68 = QueryDef(
    "q68_pii_redaction",
    Some("""WITH d AS (SELECT lang,
                         text || ' contact user' || CAST(doc_id AS VARCHAR)
                           || '@' || source || '.example.com via 10.'
                           || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                           || CAST(doc_id % 250 AS VARCHAR)
                           || CASE WHEN doc_id % 3 = 0
                                THEN ' card 4111111111111111' ELSE '' END
                           AS synth
                       FROM documents),
            r AS (SELECT lang, synth,
                    regexp_replace(regexp_replace(regexp_replace(synth,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                      '\b\d{16}\b', '<CARD>', 'g'),
                      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS red
                  FROM d)
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(SUM(len(regexp_extract_all(synth,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS emails,
                   CAST(SUM(len(regexp_extract_all(synth,
                     '\b\d{16}\b'))) AS BIGINT) AS cards,
                   CAST(SUM(len(regexp_extract_all(red,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) AS BIGINT) AS ips_left,
                   CAST(SUM(len(synth) - len(red)) AS BIGINT) AS redacted_chars
            FROM r GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val cardRe = "\\b\\d{16}\\b"
      val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val synth = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@"), col("source"), lit(".example.com via 10."),
        (col("doc_id") % 200).cast("string"), lit(".0."),
        (col("doc_id") % 250).cast("string"),
        when(col("doc_id") % 3 === 0, lit(" card 4111111111111111"))
          .otherwise(lit("")))
      val red = regexp_replace(regexp_replace(regexp_replace(col("synth"),
        emailRe, "<EMAIL>"), cardRe, "<CARD>"), ipRe, "<IP>")
      def hits(c: Column, re: String): Column =
        size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
      t(s, dir, "documents")
        .select(col("lang"), synth.as("synth"))
        .withColumn("red", red)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("docs"),
          sum(hits(col("synth"), emailRe)).as("emails"),
          sum(hits(col("synth"), cardRe)).as("cards"),
          sum(hits(col("red"), ipRe)).as("ips_left"),
          sum((length(col("synth")) - length(col("red"))).cast("long"))
            .as("redacted_chars"))
        .orderBy("lang")
    })

  /** Q69: INTRA-DOCUMENT REPETITION metrics — the Gopher/MassiveText
    * repetition rules (duplicate-word fraction, duplicate-bigram
    * fraction, top-word dominance) that catch boilerplate and
    * degenerate generations exact-dedup can't (each doc is unique; the
    * rot is INSIDE the doc). Word totals/distincts come from array
    * functions (no explode); only the top-word mode needs the
    * explode → (doc, word) count → per-doc max two-level aggregation —
    * shuffle keyed on (doc_id, word) ALONE with map-side combine, so a
    * pathological one-word document costs its own doc's rows, not a
    * skew stall, and the per-doc metric columns don't ride every
    * token-scale shuffle row (VERDICT r8 plan-hygiene note: at 100 TB
    * the token shuffle is hundreds of times the doc count — metrics
    * join back at doc scale instead; the second pass over the narrow
    * (doc_id, lang, text) projection is the cheaper side of that
    * trade). Flag thresholds are integer cross-multiplications
    * (dup-bigram frac > 0.2, or top-word frac > 0.2 at ≥ 10 tokens) —
    * no float compare anywhere, so engine hash-equality is exact. */
  val q69 = QueryDef(
    "q69_repetition",
    Some("""WITH d AS (SELECT doc_id, lang,
                         string_split(lower(text), ' ') AS tk
                       FROM documents),
            b AS (SELECT doc_id, lang, len(tk) AS total,
                    len(list_distinct(tk)) AS uniq,
                    CASE WHEN len(tk) >= 2
                      THEN (len(tk) - 1) - len(list_distinct(
                             list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i+1])))
                      ELSE 0 END AS dup2,
                    tk
                  FROM d),
            w AS (SELECT doc_id, w, COUNT(*) AS c
                  FROM (SELECT doc_id, unnest(tk) AS w FROM d)
                  GROUP BY doc_id, w),
            tw AS (SELECT doc_id, MAX(c) AS topw FROM w GROUP BY doc_id),
            j AS (SELECT b.lang, b.total, b.uniq, b.dup2, tw.topw,
                    CASE WHEN b.dup2 * 5 > (b.total - 1)
                           OR (b.total >= 10 AND tw.topw * 5 > b.total)
                         THEN 1 ELSE 0 END AS flagged
                  FROM b JOIN tw ON b.doc_id = tw.doc_id)
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(SUM(flagged) AS BIGINT) AS flagged,
                   CAST(SUM(total - uniq) AS BIGINT) AS dup_words,
                   CAST(SUM(dup2) AS BIGINT) AS dup_bigrams,
                   CAST(MAX(topw) AS BIGINT) AS max_topw
            FROM j GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      import s.implicits._
      // ONE compiled doc-local pass (r20 optimization round, guide
      // §2.4/§4 — TextOps.repCounters): every statistic here is
      // per-document, but the old spelling computed topw by exploding
      // the corpus through (doc, w) and (doc) aggregates and joining
      // back — two exchanges and a join — with the bigram distinct
      // running as an interpreted transform lambda on the side.
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .map { case (id, lang, text) =>
          val tk = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
          val (total, uniq, topw, _, u2, _, _) = TextOps.repCounters(tk)
          val dup2 = if (total >= 2) (total - 1) - u2 else 0L
          (id, lang, total, uniq, dup2, topw)
        }
        .toDF("doc_id", "lang", "total", "uniq", "dup2", "topw")
      base
        .withColumn("flagged",
          when(col("dup2") * 5 > (col("total") - 1)
            || (col("total") >= 10 && col("topw") * 5 > col("total")), 1L)
            .otherwise(0L))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("docs"),
          sum(col("flagged")).as("flagged"),
          sum(col("total") - col("uniq")).as("dup_words"),
          sum(col("dup2")).as("dup_bigrams"),
          max(col("topw")).as("max_topw"))
        .orderBy("lang")
    })

  // ------------------------------------------ q70 duplicated-span dedup
  /** Substring-level dedup (the unit below whole-document near-dup):
    * find token WINDOWS repeated across documents — the
    * memorization-prone boilerplate (headers, license blocks, template
    * sentences) that document-level Jaccard misses because the
    * containing documents differ. Every 10-token sliding window is
    * emitted once per position and aggregated twice — per (span, doc)
    * with map-side combine, then per span — so a document repeating one
    * span 1000× costs its own rows only, and the final top-k fuses into
    * TakeOrdered (no global sort). 100 TB posture: the span shuffle is
    * O(total tokens) rows; the scale path swaps the span STRING for its
    * 128-bit hash pair as the shuffle key (q29's trick — 16-byte keys,
    * payload joined back only for the top-k winners) and keeps this
    * spelling as the oracle-parity form. */
  val q70 = QueryDef(
    "q70_span_dedup",
    Some("""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                        FROM documents),
            s AS (SELECT doc_id,
                         array_to_string(list_slice(t, i, i + 9), ' ') AS span
                  FROM tk, unnest(range(1, len(t) - 8)) AS u(i)
                  WHERE len(t) >= 10),
            pd AS (SELECT span, doc_id, COUNT(*) AS occ
                   FROM s GROUP BY span, doc_id),
            agg AS (SELECT span, CAST(COUNT(*) AS BIGINT) AS ndocs,
                           CAST(SUM(occ) AS BIGINT) AS occurrences
                    FROM pd GROUP BY span)
            SELECT span, ndocs, occurrences FROM agg WHERE ndocs >= 2
            ORDER BY ndocs DESC, occurrences DESC, span LIMIT 20"""),
    (s, dir) => {
      import s.implicits._
      // compiled span emission (r20 optimization round — the q164
      // precedent): the declarative transform lambda paid interpreted
      // slice + array_join per position
      t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val tk = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
          if (tk.length < 10) Iterator.empty
          else (0 to tk.length - 10).iterator.map { i =>
            val sb = new java.lang.StringBuilder()
            var j = i
            while (j < i + 10) {
              if (j > i) sb.append(' ')
              sb.append(tk(j)); j += 1
            }
            (id, sb.toString)
          }
        }
        .toDF("doc_id", "span")
        .groupBy("span", "doc_id").agg(count(lit(1)).as("occ"))
        .groupBy("span")
        .agg(count(lit(1)).as("ndocs"), sum(col("occ")).as("occurrences"))
        .filter(col("ndocs") >= 2)
        .orderBy(col("ndocs").desc, col("occurrences").desc, col("span"))
        .limit(20)
    })

  /** q70's 100 TB spelling: the span SHUFFLE keys are the 128-bit
    * (xxhash64, reversed-xxhash64) pair — 16 bytes instead of ~60-char
    * strings — and the span text is carried only as a per-(key, doc)
    * `first()` that the final 20 winners need for display (value-
    * determined: identical spans hash identically, so first() is
    * deterministic by value; a cross-pair collision needs BOTH 64-bit
    * hashes to agree on different spans — whp impossible, the same
    * 128-bit argument as q29/q55's exact dedup). LlmOpsSpec asserts
    * result equality with q70's string-keyed oracle form. */
  def spanDedupHashKeyed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 10)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 9), " +
          "i -> array_join(slice(t, i, 10), ' '))")).as("span"))
      .select(col("doc_id"), col("span"),
        xxhash64(col("span")).as("h1"), xxhash64(reverse(col("span"))).as("h2"))
      .groupBy("h1", "h2", "doc_id")
      .agg(count(lit(1)).as("occ"), first(col("span")).as("span"))
      .groupBy("h1", "h2")
      .agg(count(lit(1)).as("ndocs"), sum(col("occ")).as("occurrences"),
        first(col("span")).as("span"))
      .filter(col("ndocs") >= 2)
      .orderBy(col("ndocs").desc, col("occurrences").desc, col("span"))
      .limit(20)
      .select(col("span"), col("ndocs"), col("occurrences"))

  // --------------------------------------------------- q71 BM25 retrieval
  /** BM25 top-k keyword retrieval (Robertson k1=1.2, b=0.75) — the
    * lexical-search leg next to the vector legs (q28/q37/q47): quality
    * filtering and contamination checks often start from "which documents
    * score high for these probe terms". One corpus pass computes doc
    * lengths; the tf pass filters to the query terms BEFORE the shuffle
    * (three-term postings, not the corpus); df and the length stats are
    * metadata-scale broadcasts. Float parity with the oracle is by
    * construction: avgdl = exact-integer sum/count division, identical
    * algebraic form for idf·tf-saturation on both engines, and the
    * per-term contributions are added in FIXED order (per-term pivot
    * columns, not an order-free SUM) so double non-associativity cannot
    * flip the ranking between engines. */
  val Bm25Terms = Seq("spark", "vector", "merge")
  val q71 = QueryDef(
    "q71_bm25_topk", {
      val terms = Bm25Terms.map(w => s"'$w'").mkString(", ")
      val pivot = Bm25Terms
        .map(w => s"COALESCE(MAX(CASE WHEN w = '$w' THEN contrib END), 0)")
        .mkString(" + ")
      Some(s"""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                           FROM documents),
               l AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM tk),
               st AS (SELECT COUNT(*)::DOUBLE AS n,
                             SUM(len(t))::DOUBLE / COUNT(*)::DOUBLE AS avgdl
                      FROM tk),
               tf AS (SELECT doc_id, w, COUNT(*)::DOUBLE AS tf
                      FROM (SELECT doc_id, unnest(t) AS w FROM tk)
                      WHERE w IN ($terms) GROUP BY doc_id, w),
               df AS (SELECT w, COUNT(*)::DOUBLE AS df FROM tf GROUP BY w),
               c AS (SELECT tf.doc_id, tf.w,
                       ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / st.avgdl))
                         AS contrib
                     FROM tf JOIN df USING (w) CROSS JOIN st
                       JOIN l ON tf.doc_id = l.doc_id),
               p AS (SELECT doc_id, $pivot AS s FROM c GROUP BY doc_id)
               SELECT doc_id, ROUND(s, 4) AS score FROM p
               ORDER BY s DESC, doc_id LIMIT 10""")
    },
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .localCheckpoint(true) // lengths + postings from one tokenization
      val lens = docs.select(col("doc_id"), size(col("tk")).cast("double").as("dl"))
      val stats = docs.agg(
        count(lit(1)).cast("double").as("n"),
        (sum(size(col("tk"))).cast("double") /
          count(lit(1)).cast("double")).as("avgdl"))
      val tf = docs.select(col("doc_id"), explode(col("tk")).as("w"))
        .filter(col("w").isin(Bm25Terms: _*))
        .groupBy("doc_id", "w").agg(count(lit(1)).cast("double").as("tf"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
      val contrib = tf.join(broadcast(dfreq), "w")
        .crossJoin(broadcast(stats))
        .join(lens, "doc_id")
        .select(col("doc_id"), col("w"),
          (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
            .as("contrib"))
      val pivot = Bm25Terms.map(w =>
        coalesce(max(when(col("w") === w, col("contrib"))), lit(0.0)))
        .reduceLeft(_ + _)
      contrib.groupBy("doc_id").agg(pivot.as("s"))
        .orderBy(col("s").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), round(col("s"), 4).as("score"))
    })

  // ---------------------------------------- q72 product-quantization ANN
  /** PQ/ADC ANN (third vector-search leg): 64-dim vectors split into
    * [[PqM]] 8-dim subspaces, each encoded as the nearest of [[PqCodes]]
    * pinned centroids (subvectors of the first 16 corpus vectors — table
    * rows, so the oracle reads the identical codebook; the Lloyd-trained
    * sub-codebooks of [[trainedSubCodebooks]] are the production default
    * and change nothing downstream). A query scores an
    * encoded vector WITHOUT touching it: per-subspace distances to the
    * 16 centroids are precomputed once into a 8×16 table (the classic
    * asymmetric-distance trick) and each corpus vector costs 8 lookups —
    * at 100 TB the corpus holds 8-byte codes (64× smaller than raw
    * vectors), the codebook+table is a kilobyte-scale broadcast, and the
    * scan is one codegen'd expression over the vector column — no typed
    * map, no object-serialization fence. Engine/oracle
    * parity: argmin compares math.sqrt'd distances with centroid-id
    * tie-break exactly like the oracle's (list_distance, cid) window
    * order, and ADC adds the 8 subspace terms in fixed ascending-s order
    * on both sides. */
  val PqM = 8          // subspaces
  val PqSub = 8        // dims per subspace
  val PqCodes = 16     // centroids per subspace
  val q72 = QueryDef(
    "q72_pq_ann", {
      val adcPivot = (0 until PqM)
        .map(s => s"COALESCE(MAX(CASE WHEN s = $s THEN ld * ld END), 0)")
        .mkString(" + ")
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
               sub AS (SELECT vec_id, s,
                              list_slice(v, s * $PqSub + 1, s * $PqSub + $PqSub) AS sv
                       FROM e, unnest(range(0, $PqM)) AS u(s)),
               cent AS (SELECT vec_id AS cid, s, sv AS cv
                        FROM sub WHERE vec_id < $PqCodes),
               enc AS (SELECT vec_id, s, cid AS code FROM (
                 SELECT sub.vec_id, sub.s, cent.cid, row_number() OVER (
                   PARTITION BY sub.vec_id, sub.s
                   ORDER BY list_distance(sub.sv, cent.cv), cent.cid) AS rn
                 FROM sub JOIN cent USING (s)) WHERE rn = 1),
               q AS (SELECT s, sv AS qv FROM sub WHERE vec_id = 0),
               ld AS (SELECT enc.vec_id, enc.s,
                             list_distance(q.qv, cent.cv) AS ld
                      FROM enc JOIN cent ON enc.s = cent.s AND enc.code = cent.cid
                        JOIN q ON q.s = enc.s),
               adc AS (SELECT vec_id, $adcPivot AS dist
                       FROM ld GROUP BY vec_id)
               SELECT vec_id, ROUND(dist, 4) AS adc FROM adc
               WHERE vec_id <> 0 ORDER BY dist, vec_id LIMIT 5""")
    },
    (s, dir) => pqTopK(s, dir, 0L, 5, trained = false))

  /** Lloyd-trained PQ sub-codebooks (VERDICT r8 next #4): the q47
    * trainedCodebook argument, per subspace — seed each of the [[PqM]]
    * sub-codebooks with the matching subvectors of the first [[PqCodes]]
    * corpus vectors, then run k-means rounds where the assignment pass is
    * one compiled flatMap over the corpus (each row emits its m nearest
    * sub-centroid memberships as (subspace, code, pos, x) cells) and the
    * update is a declarative per-(subspace, code, pos) mean with map-side
    * partial aggregation. The driver only ever collects the
    * m·codes·dsub = 1024 centroid cells — metadata-scale at any corpus
    * size. Empty sub-clusters keep their previous centroid. Returned in
    * the same `[code][full-dim]` layout as the pinned codebook, so
    * nothing downstream changes (the SURVEY promise, now kept). */
  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Array[Array[Double]]]()

  def trainedSubCodebooks(s: SparkSession, dir: String, e: DataFrame,
      iters: Int = 2): Array[Array[Double]] =
    pqCodebookCache.computeIfAbsent((s, dir), { _ =>
      import s.implicits._
      var cb: Array[Array[Double]] = e.filter(col("vec_id") < PqCodes)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
      val (m, dsub, codes) = (PqM, PqSub, PqCodes)
      for (_ <- 0 until iters) {
        val localCb = cb // locals only: the enclosing module isn't serializable
        val cells = e.as[(Long, Seq[Double])].flatMap { case (_, vSeq) =>
          val v = vSeq.toArray
          val out = new Array[(Int, Int, Int, Double)](m * dsub)
          var sp = 0
          while (sp < m) {
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < codes) {
              var acc = 0.0; var i = 0
              while (i < dsub) {
                val d = v(sp * dsub + i) - localCb(c)(sp * dsub + i)
                acc += d * d; i += 1
              }
              if (acc < bestD) { bestD = acc; best = c }
              c += 1
            }
            var i = 0
            while (i < dsub) {
              out(sp * dsub + i) = (sp, best, i, v(sp * dsub + i)); i += 1
            }
            sp += 1
          }
          out
        }.toDF("s", "code", "pos", "x")
        val means = cells.groupBy("s", "code", "pos")
          .agg(avg("x").as("mu"))
          .collect() // ≤ m·codes·dsub = 1024 rows
        val next = cb.map(_.clone)
        means.foreach(r =>
          next(r.getInt(1))(r.getInt(0) * dsub + r.getInt(2)) = r.getDouble(3))
        cb = next
      }
      cb
    })

  /** The engine side of q72: codebook + distance table are driver-built
    * (16 full-dim rows / 128 table cells — metadata-scale) and the corpus
    * pass is ONE codegen'd [[graft.functions.PqAdcScore]] projection over
    * the scan — no typed-map object fence, so whole-stage codegen spans
    * scan → encode-and-score → TakeOrdered (VERDICT r8 next #7).
    * `trained = false` pins the codebook to the raw subvectors of the
    * first [[PqCodes]] corpus rows — table rows both engines read
    * identically, which is what the q72 oracle gate replays; the
    * Lloyd-trained sub-codebooks ([[trainedSubCodebooks]]) are the
    * production default and differ ONLY in the centroid doubles. */
  /** Query-side ADC distance table: dtab(s)(c) = √Σ(qv−cb(c))² over
    * subspace s — √'d so comparisons (and ties) match the oracle's
    * `list_distance` ordering bit-for-bit; squared only at ADC time. */
  private def pqQueryDistTable(qv: Array[Double],
      cb: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(PqM, PqCodes) { (sp, c) =>
      var acc = 0.0
      var i = 0
      while (i < PqSub) {
        val d = qv(sp * PqSub + i) - cb(c)(sp * PqSub + i)
        acc += d * d; i += 1
      }
      math.sqrt(acc)
    }

  def pqTopK(s: SparkSession, dir: String, queryId: Long, k: Int,
      trained: Boolean = true): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
      .select(col("vec_id"), col("v"))
    val cb: Array[Array[Double]] =
      if (trained) trainedSubCodebooks(s, dir, e)
      else e.filter(col("vec_id") < PqCodes)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
    val qv: Array[Double] = e.filter(col("vec_id") === queryId)
      .head().getSeq[Double](1).toArray
    val (m, dsub, codes) = (PqM, PqSub, PqCodes)
    val dtab = pqQueryDistTable(qv, cb)
    // score the RAW embedding column — PqAdcScore casts to ARRAY<DOUBLE>
    // itself; routing through toDoubleVec's transform() would drag a
    // non-codegen higher-order function into the projection and knock
    // the whole stage out of codegen
    t(s, dir, "embeddings").select(col("vec_id"),
        graft.functions.PqAdcScore.score(col("embedding"), cb, dtab, m, dsub, codes).as("dist"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("dist"), 4).as("adc"))
  }

  // ------------------------------------------- q73 n-gram LM quality
  /** Perplexity-proxy quality filter: score every document under an
    * add-one-smoothed bigram LM trained on the corpus itself, surface
    * the lowest-likelihood documents (the repetitive/out-of-distribution
    * junk a KenLM-style filter drops). Cross-engine float parity for a
    * SUM of logs needs care — double addition is order-dependent and the
    * engines aggregate in different orders — so each bigram's
    * ln P(w2|w1) is rounded to integer MICRO-NATS first and the per-doc
    * sum runs in exact BIGINT arithmetic (order-free); the only doubles
    * compared cross-engine are one ln and one final exact-integer
    * division per doc. 100 TB: unigram/bigram count tables are
    * vocabulary-bounded partial aggregates, the score join shuffles on
    * (w1, w2), and nothing touches the driver but the vocab size. */
  val q73 = QueryDef(
    "q73_lm_quality",
    Some("""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                        FROM documents),
            uni AS (SELECT w, COUNT(*) AS c1
                    FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
            vv AS (SELECT COUNT(*) AS v FROM uni),
            db AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
                   FROM tk, unnest(range(1, len(t))) AS u(i)
                   WHERE len(t) >= 2),
            cb AS (SELECT w1, w2, COUNT(*) AS c2 FROM db GROUP BY w1, w2),
            terms AS (SELECT db.doc_id,
                        CAST(ROUND(ln((cb.c2 + 1) / (uni.c1 + vv.v)) * 1e6, 0)
                             AS BIGINT) AS term
                      FROM db JOIN cb USING (w1, w2)
                        JOIN uni ON uni.w = db.w1 CROSS JOIN vv),
            d AS (SELECT doc_id, CAST(SUM(term) AS BIGINT) AS total,
                         COUNT(*) AS n
                  FROM terms GROUP BY doc_id)
            SELECT doc_id, ROUND(total::DOUBLE / n / 1e6, 4) AS avg_logp
            FROM d ORDER BY total::DOUBLE / n, doc_id LIMIT 10"""),
    (s, dir) => {
      import s.implicits._
      // r20 optimization round: (i) the vocab size rode a separate
      // count() ACTION that recomputed the unigram aggregate the join
      // then built again — it is now a one-row broadcast cross-join
      // inside the single output action, with uni lazily cut so both
      // its references (V + the c1 join) read one materialization;
      // (ii) bigram emission is a compiled flatMap instead of an
      // interpreted transform lambda; (iii) the eager token checkpoint
      // became the lazy cut (every consumer now sits in the one
      // action).
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).toSeq)
        }
        .toDF("doc_id", "t")
        .transform(graft.Cut.lazyCut)
      val uni = tk.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
        .transform(graft.Cut.lazyCut)
      val vv = uni.groupBy().agg(count(lit(1)).as("v")) // one-row scalar
      val docBig = tk.select(col("doc_id"), col("t")).as[(Long, Seq[String])]
        .flatMap { case (id, ts) =>
          if (ts.length < 2) Iterator.empty
          else (0 until ts.length - 1).iterator.map(i => (id, ts(i), ts(i + 1)))
        }
        .toDF("doc_id", "w1", "w2")
      val cb = docBig.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      docBig.join(cb, Seq("w1", "w2"))
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(broadcast(vv))
        .select(col("doc_id"),
          expr("CAST(ROUND(ln((c2 + 1) / (c1 + v)) * 1e6, 0) " +
            "AS BIGINT)").as("term"))
        .groupBy("doc_id")
        .agg(sum(col("term")).as("total"), count(lit(1)).as("n"))
        .orderBy(col("total").cast("double") / col("n"), col("doc_id"))
        .limit(10)
        .select(col("doc_id"),
          round(col("total").cast("double") / col("n") / 1e6, 4).as("avg_logp"))
    })

  // ------------------------------------------- q74 document chunking
  /** Sliding-window chunking (window 32 tokens, stride 24 — 8-token
    * overlap): the context-window preparation step between cleaning and
    * packing (q67). The chunk explosion is the operator — one narrow
    * generate per document, O(total tokens / stride) rows, partial aggs
    * above it — and every output is an exact integer (counts, token
    * sums, extrema), so engine/oracle hash equality is trivial: no float
    * enters the plan. At 100 TB the same explode → partial-agg shape
    * holds; emitting the chunk TEXT instead of its length is the same
    * plan with a wider payload column. */
  val q74 = QueryDef(
    "q74_doc_chunking",
    Some("""WITH tk AS (SELECT doc_id, lang,
                          string_split(lower(text), ' ') AS t
                        FROM documents),
            c AS (SELECT lang, doc_id,
                         len(list_slice(t, i, i + 31)) AS clen
                  FROM tk, unnest(range(1, len(t) + 1, 24)) AS u(i)),
            d AS (SELECT lang, doc_id, COUNT(*) AS nchunks,
                         CAST(SUM(clen) AS BIGINT) AS ctokens
                  FROM c GROUP BY lang, doc_id)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(SUM(nchunks) AS BIGINT) AS chunks,
                   CAST(SUM(ctokens) AS BIGINT) AS chunk_tokens,
                   CAST(MAX(nchunks) AS BIGINT) AS max_chunks
            FROM d GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
      .select(col("lang"), col("doc_id"), col("text")).as[(String, Long, String)]
      // per-doc chunk stats in one compiled loop (r20 optimization
      // round): the chunk lengths are pure arithmetic over the token
      // count, so the interpreted transform + explode + (lang, doc)
      // aggregate collapse into a row-local computation
      .map { case (lang, id, text) =>
        val n = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).length
        var i = 1
        var nchunks = 0L
        var ctokens = 0L
        while (i <= n) {
          nchunks += 1
          ctokens += math.min(32, n - i + 1)
          i += 24
        }
        (lang, id, nchunks, ctokens)
      }
      .toDF("lang", "doc_id", "nchunks", "ctokens")
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"), sum(col("nchunks")).as("chunks"),
        sum(col("ctokens")).as("chunk_tokens"),
        max(col("nchunks")).as("max_chunks"))
      .orderBy("lang")
    })

  // ------------------------------------------- q75 semantic dedup
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): the embedding-space
    * dedup a pre-training pipeline runs where shingle methods are blind
    * (paraphrases, translations, templated rewrites). Cluster the
    * corpus, then drop every vector with a smaller-id cluster-mate at
    * cosine ≥ τ — pairwise work never leaves a cluster, which is the
    * entire scale story: at 100 TB you size K with the corpus so bucket
    * occupancy stays bounded, the bucket id becomes a stored partition
    * column, and the quadratic term is (N/K)² per bucket instead of N².
    * Parity is assembled from proven devices: the codebook is PINNED to
    * the first [[IvfK]] corpus vectors (q47's trick — centroids are
    * table rows both engines read identically), nearest-centroid
    * assignment mirrors ivfAssignCompiled's `(-sim, b)` tie-break as an
    * argmin window, the τ compare runs on the raw sequential-accumulated
    * double (q46's device), and every output column is an exact
    * integer. */
  val SemTau = 0.35
  val q75 = QueryDef(
    "q75_semantic_dedup",
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfK),
        asg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c) WHERE rn = 1),
        m AS (SELECT asg.vec_id, asg.bucket, e.v
              FROM asg JOIN e USING (vec_id)),
        dropped AS (SELECT DISTINCT b.bucket, b.vec_id
                    FROM m a JOIN m b
                      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                    WHERE list_cosine_similarity(a.v, b.v) >= $SemTau)
        SELECT m.bucket, CAST(COUNT(*) AS BIGINT) AS members,
               CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS kept,
               MIN(m.vec_id) AS min_vec
        FROM m LEFT JOIN dropped d
          ON m.bucket = d.bucket AND m.vec_id = d.vec_id
        GROUP BY m.bucket ORDER BY m.bucket"""),
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .select(col("vec_id"), col("v"))
      val centroids = e.filter(col("vec_id") < IvfK).orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toArray) // K·d cells — metadata-scale
      val m = ivfAssignCompiled(s, e, "vec_id", "v", centroids, 1)
        .join(e, "vec_id")
        .select(col("bucket").cast("long").as("bucket"), col("vec_id"), col("v"))
        .localCheckpoint(true) // both sides of the in-bucket self-join
      val dropped = m.as("a")
        .join(m.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .filter(VectorOps.cosine(col("a.v"), col("b.v")) >= SemTau)
        .select(col("b.bucket").as("bucket"), col("b.vec_id").as("vec_id"))
        .distinct()
      m.select("bucket", "vec_id")
        .join(dropped.withColumn("drp", lit(1L)), Seq("bucket", "vec_id"), "left")
        .groupBy("bucket")
        .agg(count(lit(1)).as("members"),
          sum(when(col("drp").isNull, 1L).otherwise(0L)).as("kept"),
          min(col("vec_id")).as("min_vec"))
        .orderBy("bucket")
    })

  // ------------------------------------------- q76 winnowing overlap
  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS algorithm): the LOCAL-fingerprint upgrade over q41's
    * whole-document hash. Slide a [[WinnowW]]-wide window over each
    * document's ordered word-3-gram hashes and keep each window's
    * minimum — a deterministic ≈1/w density sample with the guarantee
    * that any shared run of ≥ w+2 consecutive words yields at least one
    * SHARED fingerprint, so partial overlaps (quoted paragraphs, shared
    * boilerplate, spliced plagiarism) surface even when whole-doc
    * fingerprints and set-Jaccard both miss them. Fingerprints occurring
    * in more than [[WinnowMaxDf]] documents are dropped on BOTH engines
    * (corpus-stop-fingerprint trim — boilerplate n-grams carry no
    * pairing signal); that trim is also the scale bound: the
    * fingerprint-postings self-join has bucket width ≤ maxDf by
    * construction, never a hot key. Cross-engine parity needs zero float
    * work: the gram hash is md5 hex (bit-identical), window MIN over
    * strings, COUNT outputs. 100 TB: token-scale explode with (doc,
    * pos) keys, fingerprint density 1/w of grams, df-capped postings —
    * the same posture as the q57 contamination join. */
  val WinnowW = 4
  val WinnowMaxDf = 50
  val WinnowShared = 3
  val q76 = QueryDef(
    "q76_winnow_overlap",
    Some(s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
                        FROM documents),
        g AS (SELECT doc_id, i AS pos, len(tk) - 2 AS ng,
                     md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS gh
              FROM t, unnest(range(1, len(tk) - 1)) AS u(i)
              WHERE len(tk) >= 3),
        w AS (SELECT doc_id, pos, ng,
                     MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW
                       AND ${WinnowW - 1} FOLLOWING) AS fp
              FROM g),
        f AS (SELECT DISTINCT doc_id, fp FROM w
              WHERE pos + ${WinnowW - 1} <= ng),
        keep AS (SELECT fp FROM f GROUP BY fp
                 HAVING COUNT(*) <= $WinnowMaxDf),
        ff AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp)),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS shared
              FROM ff a JOIN ff b
                ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT doc_a, doc_b, shared FROM p
        WHERE shared >= $WinnowShared ORDER BY doc_a, doc_b"""),
    (s, dir) => winnowPairs(t(s, dir, "documents").select("doc_id", "text")))

  /** q76's pipeline over any (doc_id, text) frame — factored out so the
    * spec can drive the winnowing guarantee on planted fixtures.
    *
    * The fingerprint stage is ONE compiled doc-local pass (r19
    * optimization round, guide §2.4/§4): winnowing is per-document by
    * definition — gram hashes, the w-wide sliding minimum, and the
    * distinct — so the old spelling's token-scale explode (≈500 rows ×
    * 44-char md5 strings per doc) through a doc-keyed Exchange into a
    * non-codegen WindowExec was three corpus-scale operators for work a
    * monotonic deque does in O(grams) inside the scan task. The md5-hex
    * ordering is byte-identical (ASCII lexicographic = Java compareTo),
    * so the fingerprint set is unchanged; the first shuffle is now the
    * output-scale distinct-fp trim. */
  def winnowPairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = WinnowW
    val fps = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        // tokens/grams exactly as the declarative twin: split(lower, " ")
        // regex with trailing empties kept, md5 hex of "t0 t1 t2"
        val tk = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
        val ng = tk.length - 2
        if (ng < w) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val gh = new Array[String](ng)
          var i = 0
          while (i < ng) {
            val bytes = md.digest(
              (tk(i) + " " + tk(i + 1) + " " + tk(i + 2))
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val sb = new java.lang.StringBuilder(32)
            var bi = 0
            while (bi < 16) {
              sb.append(Character.forDigit((bytes(bi) >> 4) & 0xf, 16))
              sb.append(Character.forDigit(bytes(bi) & 0xf, 16))
              bi += 1
            }
            gh(i) = sb.toString
            md.reset()
            i += 1
          }
          // sliding min over w consecutive grams: monotonic deque,
          // O(ng) total comparisons
          val out = new java.util.HashSet[String]()
          val dq = new java.util.ArrayDeque[Int]()
          var p = 0
          while (p < ng) {
            while (!dq.isEmpty && gh(dq.peekLast()) >= gh(p)) dq.pollLast()
            dq.addLast(p)
            if (dq.peekFirst() <= p - w) dq.pollFirst()
            if (p >= w - 1) out.add(gh(dq.peekFirst()))
            p += 1
          }
          import scala.jdk.CollectionConverters._
          out.iterator().asScala.map(fp => (id, fp))
        }
      }
      .toDF("doc_id", "fp")
      .localCheckpoint(true) // feeds the df trim AND both join sides
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowMaxDf).select("fp")
    val ff = fps.join(keep, "fp")
    ff.as("a")
      .join(ff.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowShared)
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------- q77 int8 scalar-quant ANN
  /** Scalar quantization (SQ8) — the fourth leg of the vector-compression
    * ladder (hyperplane LSH q37, IVF q47, PQ q72): each vector stores
    * 64 int8 codes + one scale instead of 64 floats (≈4× compression,
    * no codebook at all), and similarity runs ENTIRELY on the codes:
    * quantize q_i = round(v_i · 127 / max|v|), then
    * cos_q(a,b) = dot(qa,qb) / (‖qa‖·‖qb‖) over the integer codes.
    * Cross-engine parity is exact by construction: max|v| and the
    * element products are order-free; every integer intermediate
    * (products ≤ 127², sums ≤ 64·127²) is exactly representable in a
    * double, so summation order can't perturb a bit; and the only float
    * ops — one round, two sqrt (IEEE correctly-rounded, unlike ln/exp),
    * one divide — are deterministic on both engines, so the ranking on
    * the RAW quantized cosine hashes identically (display rounding
    * only). 100 TB: the scan side holds 64-byte codes + per-vector
    * int norm; the query's codes broadcast; no shuffle before the
    * TakeOrdered top-k. */
  val q77 = QueryDef(
    "q77_sq8_ann",
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        mx AS (SELECT vec_id, v,
                      list_max(list_transform(v, x -> abs(x))) AS ma
               FROM e),
        qt AS (SELECT vec_id,
                      CASE WHEN ma = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                           ELSE list_transform(v, x -> CAST(round(x * 127 / ma) AS BIGINT))
                      END AS c
               FROM mx),
        n AS (SELECT vec_id, c,
                     list_sum(list_transform(c, x -> x * x)) AS nn
              FROM qt),
        q AS (SELECT c AS qc, nn AS qn FROM n WHERE vec_id = 0),
        sc AS (SELECT n.vec_id,
                      CASE WHEN n.nn = 0 OR q.qn = 0 THEN -2.0
                           ELSE CAST(list_inner_product(n.c, q.qc) AS DOUBLE)
                             / (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(q.qn AS DOUBLE)))
                      END AS qcos
               FROM n, q WHERE n.vec_id <> 0)
        SELECT vec_id, ROUND(qcos, 4) AS qcos FROM sc
        ORDER BY sc.qcos DESC, vec_id LIMIT 5"""),
    (s, dir) => sq8TopK(s, dir, 0L, 5))

  /** Engine side of q77: quantization and scoring stay declarative
    * (HOFs over the code arrays — every intermediate integer-exact, see
    * [[q77]]); the single query row cross-broadcasts. */
  def sq8TopK(s: SparkSession, dir: String, queryId: Long, k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
      .select(col("vec_id"), col("v"))
    val ma = array_max(transform(col("v"), x => abs(x)))
    val codes = when(ma === 0d,
        transform(col("v"), _ => lit(0L)))
      .otherwise(transform(col("v"),
        x => round(x * 127 / ma).cast("long")))
    val quant = e.select(col("vec_id"), codes.as("c"))
      .withColumn("nn",
        aggregate(transform(col("c"), x => x * x), lit(0L), (acc, x) => acc + x))
    val qRow = quant.filter(col("vec_id") === queryId)
      .select(col("c").as("qc"), col("nn").as("qn"))
    val dot = aggregate(zip_with(col("c"), col("qc"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    quant.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qRow))
      .select(col("vec_id"),
        when(col("nn") === 0L || col("qn") === 0L, lit(-2.0))
          .otherwise(dot.cast("double") /
            (sqrt(col("nn").cast("double")) * sqrt(col("qn").cast("double"))))
          .as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("qcos"), 4).as("qcos"))
  }

  // ------------------------------------------- q78 DSIR importance score
  /** Data Selection via Importance Resampling (Xie et al., NeurIPS'23):
    * score every raw-pool document by how target-like it is under two
    * unigram bag-of-words LMs — ln p_target(doc) − ln p_raw(doc), both
    * add-one smoothed over the joint vocabulary — the selection signal a
    * pretraining pipeline uses to upsample domain-relevant data. The
    * target here is the held-out doc_id % 10 slice (q57's device); the
    * output is the 10 most target-like raw documents by per-token log
    * ratio (length-normalized, q73's ranking device). Cross-engine float
    * parity reuses q73 exactly: each vocabulary word's log-ratio is
    * rounded to integer MICRO-NATS once, per-doc scores are exact
    * BIGINT sums of tf·Δmicro (order-free), and the ranking key is one
    * deterministic integer division. 100 TB: both count tables are
    * vocabulary-bounded, the per-doc pass is a (doc, word) tf aggregate
    * joined to the broadcast-scale LM table; full DSIR replaces words
    * with hashed n-gram buckets (fixed feature space) — same join
    * shape, one md5-prefix bucketing away. */
  val q78 = QueryDef(
    "q78_dsir_score",
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                         FROM documents),
        tgt AS (SELECT w, COUNT(*) AS ct FROM tok WHERE doc_id % 10 = 0 GROUP BY w),
        rw  AS (SELECT w, COUNT(*) AS cr FROM tok WHERE doc_id % 10 <> 0 GROUP BY w),
        vv  AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
        nt  AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM tgt),
        nr  AS (SELECT CAST(SUM(cr) AS BIGINT) AS n FROM rw),
        lm  AS (SELECT voc.w,
                  CAST(ROUND(ln((COALESCE(tgt.ct, 0) + 1) / (nt.n + vv.v)) * 1e6, 0)
                       AS BIGINT)
                - CAST(ROUND(ln((COALESCE(rw.cr, 0) + 1) / (nr.n + vv.v)) * 1e6, 0)
                       AS BIGINT) AS dm
                FROM (SELECT DISTINCT w FROM tok) voc
                LEFT JOIN tgt USING (w) LEFT JOIN rw USING (w)
                CROSS JOIN vv CROSS JOIN nt CROSS JOIN nr),
        dtf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
                WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
        sc  AS (SELECT doc_id, CAST(SUM(tf * dm) AS BIGINT) AS sm,
                       CAST(SUM(tf) AS BIGINT) AS ntok
                FROM dtf JOIN lm USING (w) GROUP BY doc_id)
        SELECT doc_id, ROUND(sm::DOUBLE / ntok / 1e6, 4) AS dsir
        FROM sc ORDER BY sm::DOUBLE / ntok DESC, doc_id LIMIT 10"""),
    (s, dir) =>
      dsirScores(t(s, dir, "documents").select("doc_id", "text"),
        col("doc_id") % 10 === 0)
        .orderBy((col("sm").cast("double") / col("ntok")).desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"),
          round(col("sm").cast("double") / col("ntok") / 1e6, 4).as("dsir")))

  /** q78's scorer over any (doc_id, text) frame: returns every non-target
    * document with its exact integer (sm = Σ tf·Δmicro, ntok) score
    * pair. Three driver-side scalars (vocab size, corpus token counts) —
    * the q73 precedent; everything else is declarative. */
  def dsirScores(docs: DataFrame, isTarget: Column): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"),
        isTarget.as("tgt"))
      .localCheckpoint(true) // LM counts, vocab, and per-doc tfs in one pass
    val tgt = tok.filter(col("tgt")).groupBy("w").agg(count(lit(1)).as("ct"))
    val rw = tok.filter(!col("tgt")).groupBy("w").agg(count(lit(1)).as("cr"))
    val v = tok.select("w").distinct().count()
    val ntC = tgt.agg(coalesce(sum("ct"), lit(0L))).head().getLong(0)
    val nrC = rw.agg(coalesce(sum("cr"), lit(0L))).head().getLong(0)
    val lm = tok.select("w").distinct()
      .join(tgt, Seq("w"), "left").join(rw, Seq("w"), "left")
      .select(col("w"), expr(
        s"CAST(ROUND(ln((COALESCE(ct, 0) + 1) / (${ntC}L + ${v}L)) * 1e6, 0) AS BIGINT)" +
          s" - CAST(ROUND(ln((COALESCE(cr, 0) + 1) / (${nrC}L + ${v}L)) * 1e6, 0) AS BIGINT)")
        .as("dm"))
    tok.filter(!col("tgt")).groupBy("doc_id", "w")
      .agg(count(lit(1)).as("tf"))
      .join(lm, "w")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("dm")).as("sm"), sum(col("tf")).as("ntok"))
  }

  // ------------------------------------------- q79 BPE pair counts
  /** The counting kernel of BPE tokenizer training (Sennrich et al.,
    * ACL'16): the frequency of every adjacent symbol pair across the
    * corpus — the statistic each merge round maximizes. The scale story
    * is the TWO-STAGE shape a real distributed BPE trainer uses: first
    * collapse the corpus to (word, count) — a vocabulary-bounded
    * aggregate with map-side combine — then explode pairs over DISTINCT
    * words only, weighting by the word count. Pair generation is
    * vocabulary-scale, not corpus-scale: a word appearing a billion
    * times explodes once. All outputs are strings + exact integers, so
    * the oracle hashes trivially; iterating merge rounds re-runs the
    * same plan over the re-segmented vocab (symbols stay in the word
    * row — no per-round corpus pass). */
  val q79 = QueryDef(
    "q79_bpe_pairs",
    Some("""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                       FROM documents),
        wc AS (SELECT w, COUNT(*) AS c FROM t GROUP BY w),
        p AS (SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r, c
              FROM wc, unnest(range(1, len(w))) AS u(i)
              WHERE len(w) >= 2),
        agg AS (SELECT l, r, CAST(SUM(c) AS BIGINT) AS cnt
                FROM p GROUP BY l, r)
        SELECT l, r, cnt FROM agg ORDER BY cnt DESC, l, r LIMIT 10"""),
    (s, dir) => {
      val wc = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .filter(length(col("w")) >= 2)
      wc.select(col("c"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => struct(substring(col("w"), i, lit(1)).as("l"),
            substring(col("w"), i + 1, lit(1)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(10)
    })

  // ---------------------------------------- q84 domain mixing weights
  /** Temperature-scaled domain sampling weights (the mT5/data-mixing
    * recipe): per source-domain token counts n_i, sampling probability
    * q_i ∝ (n_i/N)^α with α = 0.5 — upsampling the tail so small
    * domains aren't drowned, the standard pre-training mixer. Float
    * parity with the oracle is engineered, not hoped for: token counts
    * and N are exact integers; p_i = n_i/N and sqrt are single IEEE
    * operations (bit-identical in both engines); the normalizer Z folds
    * the per-domain sqrts LEFT-TO-RIGHT over a source-sorted array in
    * both engines (Spark `aggregate(array_sort(collect_list(…)))`,
    * DuckDB `list_reduce(list(… ORDER BY source))` — no engine-order
    * float sum anywhere); the emitted weight rounds to parts-per-billion
    * BIGINT. Scale: one narrow (source, tokens) shuffle at domain
    * cardinality, then driver-size arithmetic — the 100 TB cost is the
    * token count, which is one map-side-combined agg. */
  val q84 = QueryDef(
    "q84_domain_mix",
    Some("""WITH d AS (SELECT source,
                 len(string_split(text, ' ')) AS tk FROM documents),
            per AS (SELECT source, CAST(SUM(tk) AS BIGINT) AS tokens
                    FROM d GROUP BY source),
            tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM per),
            sq AS (SELECT source, tokens,
                     sqrt(CAST(tokens AS DOUBLE) /
                          CAST((SELECT total FROM tot) AS DOUBLE)) AS s
                   FROM per),
            z AS (SELECT list_reduce(list(s ORDER BY source),
                    (acc, x) -> acc + x) AS z FROM sq)
            SELECT source, tokens,
              CAST(ROUND(s / (SELECT z FROM z) * 1000000000) AS BIGINT)
                AS weight_ppb
            FROM sq ORDER BY source"""),
    (s, dir) => {
      val per = t(s, dir, "documents")
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("tk"))
        .groupBy("source")
        .agg(sum(col("tk")).as("tokens"))
      val tot = per.agg(sum(col("tokens")).as("total"))
      val sq = per.crossJoin(broadcast(tot))
        .withColumn("s",
          sqrt(col("tokens").cast("double") / col("total").cast("double")))
      val z = sq
        .agg(expr("aggregate(array_sort(collect_list(struct(source, s))), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.s)").as("z"))
      sq.crossJoin(broadcast(z))
        .select(col("source"), col("tokens"),
          round(col("s") / col("z") * 1000000000L).cast("long").as("weight_ppb"))
        .orderBy("source")
    })

  // ------------------------------------ q87 weighted sampling (A-ES)
  /** Weighted sampling WITHOUT replacement, distributed and
    * DETERMINISTIC: Efraimidis–Spirakis exponential keys — draw
    * k = -ln(u)/w per row and keep the k smallest — give an exact
    * weighted sample in one scan + one top-k (TakeOrdered: O(rows) with
    * k-sized state per partition, no sort, no rejection loop, no RNG
    * state to coordinate across executors). The uniform u is a pure
    * arithmetic hash of doc_id (Knuth multiplicative, mod 2³²,
    * shifted into (0,1)) computed IDENTICALLY in both engines, so the
    * oracle replays the exact draw — the same device that makes q32's
    * sampler hash-checkable. Weights: n_chars (longer docs
    * proportionally likelier — the doc-length–debiased sampling shape).
    * ln is one libm call on both sides; keys of distinct docs are
    * continuous-distinct so the (k, doc_id) order is ulp-robust. */
  val q87 = QueryDef(
    "q87_weighted_sample",
    Some("""SELECT doc_id FROM (
              SELECT doc_id,
                -ln(((doc_id * 2654435761) % 4294967296 + 1)::DOUBLE
                    / 4294967297.0) / n_chars AS k
              FROM documents WHERE n_chars > 0
              ORDER BY k, doc_id LIMIT 10)
            ORDER BY doc_id"""),
    (s, dir) => t(s, dir, "documents")
      .filter(col("n_chars") > 0)
      .withColumn("k",
        -log((pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) + 1)
          .cast("double") / lit(4294967297.0)) / col("n_chars"))
      .orderBy(col("k"), col("doc_id")).limit(10)
      .select("doc_id").orderBy("doc_id"))

  // ------------------------------------ q89 binary-sign ANN (Hamming)
  /** Binary quantization ANN (the sign-bit / binary-hashing tier below
    * SQ8): each 64-dim embedding quantizes to ONE 64-bit word of sign
    * bits — a 256× memory cut vs float32 — and candidate search is
    * bit_count(sig XOR querySig), a 2-instruction Hamming distance
    * inside whole-stage codegen. Sign-of-dot-products with random
    * hyperplanes is q37's LSH; sign-of-COORDINATES is its memory-bound
    * sibling (the FAISS/RaBitQ-family binary prefilter): scan-speed
    * candidate generation over packed words, exact cosine re-rank over
    * the top-50 Hamming candidates only. The oracle replays the same
    * two phases with per-dimension sign comparison (no packing needed —
    * popcount(a XOR b) ≡ count of sign-differing dims) and q28's proven
    * list_cosine_similarity parity for the re-rank. 100 TB: the packed
    * column is 8 bytes/row (storable, scannable at memory bandwidth);
    * candidates bound re-rank cost; ties break on (ham, vec_id) so both
    * engines cut identical candidate sets. */
  val q89 = QueryDef(
    "q89_binary_ann",
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                 q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
                 h AS (SELECT vec_id, v, qv,
                         len(list_filter(range(1, 65),
                           i -> (v[i] >= 0) <> (qv[i] >= 0))) AS ham
                       FROM e, q WHERE vec_id <> 0),
                 cand AS (SELECT * FROM h ORDER BY ham, vec_id LIMIT 50)
            SELECT vec_id, ROUND(list_cosine_similarity(v, qv), 4) AS sim
            FROM cand ORDER BY sim DESC, vec_id LIMIT 5"""),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .withColumn("sig", VectorOps.signBits64(col("v")))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("sig").as("qsig"), col("v").as("qv"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("ham", expr("bit_count(sig ^ qsig)"))
        .orderBy(col("ham"), col("vec_id")).limit(50)
        .select(col("vec_id"),
          round(VectorOps.cosine(col("v"), col("qv")), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
    })

  // ---------------------------------- q94 n-gram vocabulary coverage
  /** Vocabulary-coverage / novelty profiling (X16): the fraction of each
    * language's word-3-gram OCCURRENCES not covered by the corpus
    * top-1000 n-gram vocabulary — the coverage check run before
    * committing to a tokenizer/vocab budget, and the memorization-risk
    * novelty profile per slice. Occurrence-level (not per-doc distinct):
    * a gram repeated a million times weighs a million. Determinism: the
    * vocabulary cut breaks frequency ties lexicographically in both
    * engines; the ppm output is an integer-valued double rounded the
    * same way on both sides. 100 TB posture: one map-side-combined
    * heavy-hitter aggregate → TakeOrdered(1000) → the 1000-entry vocab
    * BROADCASTS to the flagging join — two corpus passes, no payload
    * shuffle, vocab-bounded driver state. */
  val q94 = QueryDef(
    "q94_ngram_coverage",
    Some("""WITH t AS (SELECT lang, string_split(lower(text), ' ') AS tk
                       FROM documents),
                 s AS (SELECT lang, unnest(list_transform(range(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
                       FROM t WHERE len(tk) >= 3),
                 vocab AS (SELECT g FROM (SELECT g, COUNT(*) AS c FROM s
                           GROUP BY g ORDER BY c DESC, g LIMIT 1000)),
                 flag AS (SELECT s.lang,
                            CASE WHEN v.g IS NULL THEN 1 ELSE 0 END AS oov
                          FROM s LEFT JOIN vocab v USING (g))
            SELECT lang, CAST(SUM(oov) AS BIGINT) AS oov_ngrams,
                   CAST(COUNT(*) AS BIGINT) AS ngrams,
                   CAST(ROUND(SUM(oov) * 1000000.0 / COUNT(*)) AS BIGINT)
                     AS oov_ppm
            FROM flag GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      import s.implicits._
      // compiled 3-gram emission (r20 optimization round — the q164
      // precedent; gram spelling = TextOps.shingleSet's, without the
      // distinct)
      val grams = t(s, dir, "documents")
        .select(col("lang"), col("text")).as[(String, String)]
        .flatMap { case (lang, text) =>
          val tk = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
          if (tk.length < 3) Iterator.empty
          else (0 until tk.length - 2).iterator.map(i =>
            (lang, tk(i) + " " + tk(i + 1) + " " + tk(i + 2)))
        }
        .toDF("lang", "g")
      val vocab = grams.groupBy("g").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("g")).limit(1000)
        .select(col("g"), lit(1).as("in_v"))
      grams.join(broadcast(vocab), Seq("g"), "left")
        .groupBy("lang")
        .agg(sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("oov_ngrams"),
          count(lit(1)).as("ngrams"))
        .withColumn("oov_ppm",
          round(col("oov_ngrams") * 1000000.0 / col("ngrams")).cast("long"))
        .orderBy("lang")
    })

  // ------------------------------------ q96 lexicon sentiment scoring
  /** Lexicon-based sentiment at scale (the EDBT'16 'Large Scale
    * Sentiment Analysis with Spark' family, PAPERS.md): per-source
    * token-normalized sentiment from a broadcast word-score lexicon —
    * the shape every lexicon/classifier-lite scoring pass takes (toxicity
    * lists, quality word lists, domain dictionaries). All-integer
    * accumulation (score sums and token counts are exact), one double
    * division rounded to ppm. 100 TB: the lexicon broadcasts (kilobytes),
    * the scan is one explode + map-side-combined aggregate — no shuffle
    * wider than (source, two longs). */
  val q96 = QueryDef(
    "q96_sentiment",
    Some("""WITH lex(w, score) AS (VALUES ('fast', 2), ('small', 1),
                 ('big', 1), ('slow', -2), ('dup', -3)),
                 tok AS (SELECT source,
                           unnest(string_split(lower(text), ' ')) AS w
                         FROM documents),
                 tok2 AS (SELECT * FROM tok WHERE w <> '')
            SELECT source,
                   CAST(SUM(COALESCE(lex.score, 0)) AS BIGINT) AS score_sum,
                   CAST(COUNT(*) AS BIGINT) AS tokens,
                   CAST(ROUND(SUM(COALESCE(lex.score, 0)) * 1000000.0
                        / COUNT(*)) AS BIGINT) AS sentiment_ppm
            FROM tok2 LEFT JOIN lex USING (w)
            GROUP BY source ORDER BY source"""),
    (s, dir) => {
      import s.implicits._
      val lex = Seq(("fast", 2), ("small", 1), ("big", 1), ("slow", -2),
        ("dup", -3)).toDF("w", "score")
      t(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .join(broadcast(lex), Seq("w"), "left")
        .groupBy("source")
        .agg(sum(coalesce(col("score"), lit(0))).as("score_sum"),
          count(lit(1)).as("tokens"))
        .withColumn("sentiment_ppm",
          round(col("score_sum") * 1000000.0 / col("tokens")).cast("long"))
        .orderBy("source")
    })

  /** Hamming-1 record linkage by DELETION NEIGHBORHOOD — the exact
    * sub-quadratic algorithm for near-identical key dedup (one-character
    * typos, off-by-one ids): two equal-length strings at Hamming
    * distance 1 agree exactly on every position but one, so blanking
    * each position once (L variants per row) and equi-joining on
    * (position, variant) finds every such pair EXACTLY once — no
    * quadratic pair space, no recall dial. 100 TB: fan-out is
    * L×rows (L = key length, a constant), the join is an ordinary
    * shuffle on near-unique keys; the brute-force O(n²) spelling lives
    * only in the oracle. The name-differs guard keeps identical keys
    * (Hamming 0) from matching at every position. */
  val q104 = QueryDef(
    "q104_hamming_join",
    Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
            FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
              AND CASE WHEN length(a.c_name) = length(b.c_name)
                       THEN hamming(a.c_name, b.c_name) END = 1
            ORDER BY id_a, id_b"""),
    (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"), col("c_name").as("name"))
      // carry the DELETED CHARACTER instead of the whole name: two
      // same-length strings sharing a deletion variant at position i
      // are Hamming-1 iff the characters deleted there DIFFER (equal
      // deleted chars ⇒ identical strings) — same exactness, ~18 fewer
      // string bytes per row on both shuffle sides of the join.
      // (r19 optimization round: a hash-the-variant + levenshtein-verify
      // rewrite was A/B'd at 1.59 → 2.49 s and REJECTED — the
      // interpreted xxhash64-in-lambda per variant costs more than the
      // string shuffle it saves at every scale where the variant fan-out
      // dominates; see OPTIMIZATION_r19.md.)
      // COMPILED variant emission (r20 optimization round, guide §4):
      // the transform lambda paid interpreted substring+concat dispatch
      // per position; the join and its exactness argument are untouched.
      import s.implicits._
      val variants = c.as[(Long, String)]
        .flatMap { case (id, name) =>
          (0 until name.length).iterator.map { p =>
            (id, p, name.substring(p, p + 1),
              name.substring(0, p) + name.substring(p + 1))
          }
        }
        .toDF("id", "pos", "chr", "variant")
      variants.as("a").join(variants.as("b"),
          col("a.pos") === col("b.pos") &&
            col("a.variant") === col("b.variant") &&
            col("a.id") < col("b.id") &&
            col("a.chr") =!= col("b.chr"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        // lazy cut (r20 opt): the output sort's range sampler re-ran the
        // compiled variant emission + join probe (no shuffle below the
        // sort shields them) — output-scale persist, one run
        .transform(graft.Cut.lazyCut)
        .orderBy("id_a", "id_b")
    })

  /** Token co-occurrence LIFT (PMI's ratio core, kept in ratio space so
    * both engines round the same single division — log parity across
    * libm implementations is not hash-stable): which frequent tokens
    * appear in the same documents far more often than independence
    * predicts. Vocabulary is capped to the top-50 document-frequency
    * tokens (broadcast), per-doc token sets emit their pairs in ONE
    * map-side pass over the grouped set (C(|vocab∩doc|,2) bounded per
    * doc, like the LSH bucket-pair device) — never a row-level
    * self-join of the posting lists. 100 TB: costs two aggs over the
    * token stream plus a vocab²-bounded pair agg. */
  // vocab cap and the dense-pair stride it bounds: pair id = a·Stride+b
  // requires every tid < Stride (r14 ADVICE — the bare 64 silently
  // collided pair ids if the cap ever rose past it)
  val CooccurVocabTop = 50
  val CooccurStride = 64 // next power of two ≥ CooccurVocabTop
  require(CooccurStride >= CooccurVocabTop,
    "dense pair ids a*Stride+b collide when tid can reach the stride")
  val q105 = QueryDef(
    "q105_cooccur_lift",
    Some(s"""WITH tok AS (SELECT DISTINCT doc_id, token FROM (
                 SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                 FROM documents) WHERE token <> ''),
            top AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token
                    ORDER BY df DESC, token LIMIT $CooccurVocabTop),
            nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
            ft AS (SELECT t.doc_id, t.token, top.df
                   FROM tok t JOIN top ON t.token = top.token),
            pairs AS (SELECT a.token AS tok_a, b.token AS tok_b,
                        a.df AS dfa, b.df AS dfb, COUNT(*) AS co
                      FROM ft a JOIN ft b
                        ON a.doc_id = b.doc_id AND a.token < b.token
                      GROUP BY 1, 2, 3, 4)
            SELECT tok_a, tok_b, CAST(co AS BIGINT) AS co,
                   CAST(ROUND(co * n / (dfa * dfb * 1.0), 6) AS DOUBLE) AS lift
            FROM pairs, nd WHERE co >= 5
            ORDER BY lift DESC, tok_a, tok_b LIMIT 30"""),
    (s, dir) => {
      // ONE tokenize+distinct pass serves df-ranking, the corpus count
      // AND pair generation (three consumers — without the checkpoint
      // the corpus is scanned and tokenized three times)
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "").distinct()
        .localCheckpoint(true)
      val top = tok.groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(CooccurVocabTop)
      val nd = tok.select(countDistinct("doc_id").as("n"))
      // vocab tokens get DENSE INT ids in (token ASC) order — sorted-id
      // order ≡ sorted-token order, so the a < b pair rule is preserved
      // and the ~6M exploded pair rows carry ONE int (pair id =
      // a·CooccurStride+b) instead of two strings through the
      // aggregate; tokens rejoin from the vocab-row broadcast after
      // the counts collapse
      val idx = top.select(col("token"), col("df"),
        (row_number().over(Window.orderBy("token")) - 1).as("tid"))
      // r20 optimization round: a compiled flatMap pair expansion was
      // A/B'd and NOT adopted (1.46 → 2.06 med with the q33 control
      // drifting 1.45×, i.e. flat-at-best after normalization) — the
      // lambda here is INT arithmetic, cheap even interpreted, and the
      // typed path pays Seq[Int] deserialization boxing per row. The
      // interpreted-HOF rule of thumb from this round: compile string-
      // building lambdas, leave int-only lambdas declarative.
      val pairs = tok.join(broadcast(idx), "token")
        .groupBy("doc_id").agg(sort_array(collect_set(col("tid"))).as("ts"))
        .select(explode(expr(
          s"""flatten(transform(ts, (x, i) -> transform(
               slice(ts, i + 2, size(ts) - i - 1),
               y -> x * $CooccurStride + y)))""")).as("pid"))
        .groupBy("pid").agg(count(lit(1)).as("co"))
        .filter(col("co") >= 5)
      pairs
        .join(broadcast(idx.select((col("tid") * CooccurStride).as("pa"),
          col("token").as("tok_a"), col("df").as("dfa"))),
          col("pid") - pmod(col("pid"), lit(CooccurStride)) === col("pa"))
        .join(broadcast(idx.select(col("tid").as("pb"),
          col("token").as("tok_b"), col("df").as("dfb"))),
          pmod(col("pid"), lit(CooccurStride)) === col("pb"))
        .crossJoin(broadcast(nd))
        .select(col("tok_a"), col("tok_b"), col("co"),
          round((col("co") * col("n")) / (col("dfa") * col("dfb") * 1.0), 6)
            .cast("double").as("lift"))
        .orderBy(col("lift").desc, col("tok_a"), col("tok_b")).limit(30)
    })

  /** Deterministic train/val/test split + shard assignment — the step
    * that turns a filtered corpus into training inputs. Two INDEPENDENT
    * arithmetic hashes (q87's RNG-free device, distinct multipliers) so
    * split membership and shard placement are uncorrelated; assignment
    * is pure narrow column math (no sort, no shuffle before the
    * split×shard-bounded stat agg), reproducible across engines, runs
    * and cluster sizes — re-running the pipeline tomorrow yields
    * byte-identical shards, the property RNG-based splitting loses. */
  val q106 = QueryDef(
    "q106_split_shard",
    Some("""WITH a AS (SELECT doc_id, n_chars,
                (doc_id * 2654435761) % 4294967296 % 10 AS b,
                (doc_id * 2246822519) % 4294967296 % 32 AS shard FROM documents)
            SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(shard AS INTEGER) AS shard,
                   COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM a GROUP BY 1, 2"""),
    (s, dir) => {
      val b = pmod(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)),
        lit(10L))
      val shard = pmod(pmod(col("doc_id") * lit(2246822519L), lit(4294967296L)),
        lit(32L))
      t(s, dir, "documents")
        .select(
          when(b < 8, "train").when(b === 8, "val").otherwise("test").as("split"),
          shard.cast("int").as("shard"),
          col("n_chars"))
        .groupBy("split", "shard")
        .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"))
    })

  /** Frequent tokens by SKETCH-THEN-RECOUNT (Misra–Gries candidates +
    * exact recount): the heavy-hitter pass that sizes vocabularies and
    * stopword lists without a full token groupBy. Per partition, a
    * k=400-counter Misra–Gries summary (mapPartitions — genuinely
    * imperative per-partition state) emits candidate tokens; the
    * pigeonhole guarantee makes the union a SUPERSET of every token
    * with global frequency > n/200 (if a token clears n/200 globally it
    * clears n_p/200 in some partition, and MG with 400 > 200 counters
    * cannot evict it there), so the exact recount over the candidate
    * semi-join restores exactness — the output is partitioning-
    * independent even though the sketch isn't. 100 TB: pass 1 shuffles
    * ≤ 400 tokens per partition (not the token stream), pass 2 recounts
    * through a broadcast semi-join + map-side-combined agg bounded by
    * the candidate set; the only full-width token shuffle in the naive
    * spelling (the oracle's global GROUP BY) never happens. */
  val q117 = QueryDef(
    "q117_heavy_hitters",
    Some("""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                         FROM documents),
                 t2 AS (SELECT w FROM tok WHERE w <> ''),
                 tot AS (SELECT COUNT(*) AS n FROM t2),
                 c AS (SELECT w, COUNT(*) AS cnt FROM t2 GROUP BY w)
            SELECT w AS token, CAST(cnt AS BIGINT) AS cnt
            FROM c, tot WHERE cnt * 200 > n
            ORDER BY cnt DESC, token"""),
    (s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "").as[String]
      // 400 counters per partition; must exceed 1/support = 200
      val candidates = TextOps.mgCandidates(toks, 400).distinct().toDF("w")
      val tot = toks.groupBy().agg(count(lit(1)).as("n"))
      toks.toDF("w")
        .join(broadcast(candidates), Seq("w"), "left_semi")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot)) // one-row scalar
        .filter(col("cnt") * 200 > col("n"))
        .select(col("w").as("token"), col("cnt"))
        .orderBy(col("cnt").desc, col("token"))
    })

  /** Edit-distance-1 record linkage by DELETION NEIGHBORHOOD (the
    * FastSS/SymSpell device): unlike q104's positional Hamming blocking
    * (substitutions only), indexing each key's {self} ∪ {all single-
    * deletions} catches insertions and deletions too — two strings at
    * Levenshtein distance ≤ 1 always share a deletion-neighborhood
    * member. Keys here are stringified numeric ids (the off-by-one-digit
    * id linkage problem: OCR'd invoices, hand-keyed account numbers).
    * Candidates from the variant equi-join are verified with an exact
    * levenshtein = 1 on the pair — the blocking is recall-lossless, the
    * verify makes precision exact. 100 TB: fan-out is (L+1)×rows with L
    * the key length; the join is an equi-join on short strings; the
    * quadratic spelling lives only in the oracle. */
  val q118 = QueryDef(
    "q118_edit1_join",
    Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
            FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
              AND levenshtein(CAST(a.c_custkey AS VARCHAR),
                              CAST(b.c_custkey AS VARCHAR)) = 1
            ORDER BY id_a, id_b"""),
    (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"),
          col("c_custkey").cast("string").as("key"))
      // COMPILED variant emission (r20 optimization round, guide §4):
      // the array_union + transform lambda paid interpreted dispatch
      // per position; the LinkedHashSet mirrors array_union's dedup.
      import s.implicits._
      val variants = c.as[(Long, String)]
        .flatMap { case (id, key) =>
          val vs = new java.util.LinkedHashSet[String]()
          vs.add(key)
          var i = 0
          while (i < key.length) {
            vs.add(key.substring(0, i) + key.substring(i + 1)); i += 1
          }
          import scala.jdk.CollectionConverters._
          vs.iterator().asScala.map(v => (id, key, v))
        }
        .toDF("id", "key", "variant")
      // r20 optimization round: a bucket-group rewrite (groupBy variant
      // + collect_list + in-bucket pair explode, the postingsPairs
      // device) was A/B-REJECTED — 2.22 → 3.01 s med (2.21 → 2.69 min)
      // — the interpreted flatten/transform pair expansion costs more
      // than the second exchange it saves, the same lesson as r19's
      // rejected q104 hash-the-variant rewrite: this operator is
      // fan-out-bound, not exchange-bound, and the self-join's two
      // identical exchange subtrees already dedup via ReuseExchange.
      variants.as("a").join(variants.as("b"),
          col("a.variant") === col("b.variant") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.key").as("ka"), col("b.key").as("kb"))
        .distinct() // a pair can collide on several shared variants
        .filter(levenshtein(col("ka"), col("kb")) === 1)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    })

  /** Hybrid retrieval with RECIPROCAL RANK FUSION (Cormack et al. —
    * the fusion step of every BM25 + dense-vector RAG stack): a lexical
    * top-100 (query-term occurrence count) and a dense top-100 (cosine
    * to the pinned query vector, q28's oracle-proven device) are fused
    * by RRF(d) = Σ 1/(60 + rank_i(d)) over the lists containing d (inner
    * join: both lists here). Determinism: both rankings order by
    * (score DESC, id) — a total order — so the top-100 sets and ranks
    * are engine-identical; the fused score is a sum of exactly two
    * reciprocals (commutative-exact double addition), rounded once.
    * 100 TB: each modality contributes a TakeOrdered(100) — no global
    * sort of the corpus — and ranking/fusion run over 100-row lists. */
  val q119 = QueryDef(
    "q119_rrf_fusion",
    Some("""WITH lex AS (SELECT doc_id,
                   len(list_filter(string_split(lower(text), ' '),
                       w -> w IN ('hash', 'join'))) AS sc
                 FROM documents WHERE doc_id <> 0),
                 ltop AS (SELECT doc_id, sc FROM lex
                          ORDER BY sc DESC, doc_id LIMIT 100),
                 lr AS (SELECT doc_id, ROW_NUMBER() OVER
                          (ORDER BY sc DESC, doc_id) AS rank_lex FROM ltop),
                 q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                       WHERE vec_id = 0),
                 vs AS (SELECT vec_id, ROUND(list_cosine_similarity(
                          embedding::DOUBLE[], qv), 4) AS sim
                        FROM embeddings, q WHERE vec_id <> 0),
                 vtop AS (SELECT vec_id, sim FROM vs
                          ORDER BY sim DESC, vec_id LIMIT 100),
                 vr AS (SELECT vec_id, ROW_NUMBER() OVER
                          (ORDER BY sim DESC, vec_id) AS rank_vec FROM vtop)
            SELECT lr.doc_id, rank_lex, rank_vec,
                   ROUND(1.0 / (60 + rank_lex) + 1.0 / (60 + rank_vec), 6)
                     AS rrf
            FROM lr JOIN vr ON lr.doc_id = vr.vec_id
            ORDER BY rrf DESC, doc_id LIMIT 10"""),
    (s, dir) => {
      val lexW = Window.orderBy(col("sc").desc, col("doc_id"))
      val lr = t(s, dir, "documents").filter(col("doc_id") =!= 0)
        .select(col("doc_id"), size(expr(
          "filter(split(lower(text), ' '), w -> w IN ('hash', 'join'))"))
          .as("sc"))
        .orderBy(col("sc").desc, col("doc_id")).limit(100)
        .withColumn("rank_lex", row_number().over(lexW))
      val emb = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
      val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val vecW = Window.orderBy(col("sim").desc, col("vec_id"))
      val vr = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv)) // one-row query vector
        .select(col("vec_id"),
          round(VectorOps.cosine(col("v"), col("qv")), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(100)
        .withColumn("rank_vec", row_number().over(vecW))
      lr.join(vr, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
          round(lit(1.0) / (lit(60) + col("rank_lex"))
            + lit(1.0) / (lit(60) + col("rank_vec")), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    })

  /** Embedding-space label-consistency CALIBRATION: bin the corpus by
    * cosine similarity to a pinned query vector and measure, per bin,
    * how often the neighbor shares the query's class label — the
    * reliability-diagram input that tells you whether similarity scores
    * can be thresholded as a classifier (and where the threshold
    * belongs). Binning uses the already-rounded 4-dp similarity
    * (q28's device) so bin edges cannot straddle a representation
    * difference; rates are ppm integers. 100 TB: one broadcast of the
    * query row, one map-side-combined aggregate — bin-bounded output,
    * no shuffle wider than (bin, two longs). */
  val q120 = QueryDef(
    "q120_calibration",
    Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv, label AS ql
                       FROM embeddings WHERE vec_id = 0),
                 sc AS (SELECT vec_id,
                          ROUND(list_cosine_similarity(
                            embedding::DOUBLE[], qv), 4) AS sim,
                          CASE WHEN label = ql THEN 1 ELSE 0 END AS pos
                        FROM embeddings, q WHERE vec_id <> 0)
            SELECT CAST(FLOOR((sim + 1) * 10) AS INTEGER) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS positives,
                   CAST(ROUND(SUM(pos) * 1000000.0 / COUNT(*)) AS BIGINT)
                     AS pos_ppm
            FROM sc GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("label").as("ql"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q)) // one-row query vector + label
        .select(
          round(VectorOps.cosine(col("v"), col("qv")), 4).as("sim"),
          when(col("label") === col("ql"), 1L).otherwise(0L).as("pos"))
        .groupBy(floor((col("sim") + 1) * 10).cast("int").as("bin"))
        .agg(count(lit(1)).as("n"), sum("pos").as("positives"))
        .withColumn("pos_ppm",
          round(col("positives") * 1000000.0 / col("n")).cast("long"))
        .orderBy("bin")
    })

  /** Diversified retrieval by MAXIMAL MARGINAL RELEVANCE (Carbonell &
    * Goldstein '98 — the dedup-at-rerank step of retrieval pipelines):
    * greedy k=4 selection maximizing 0.7·rel(q,d) − 0.3·max_{s∈S}
    * sim(d,s) over a top-20 relevance candidate pool. The greedy
    * recurrence unrolls to a FIXED k-step dataflow (each step: semi-join
    * pair sims to the selected set, MAX per candidate, anti-join the
    * picked, argmax with a (score, id) total tiebreak) — no driver
    * loop over data, no iteration count dependent on rows. Determinism:
    * relevance and pair sims are 4-dp-rounded cosines (q28's device);
    * each step's score is the identical 0.7·rel − 0.3·max expression on
    * both engines. 100 TB: the corpus-sized work is ONE TakeOrdered(20)
    * relevance pass; everything after is 20×20-bounded. */
  val q125 = QueryDef(
    "q125_mmr",
    Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                       WHERE vec_id = 0),
                 c AS (SELECT vec_id, ROUND(list_cosine_similarity(
                           embedding::DOUBLE[], qv), 4) AS rel,
                         embedding::DOUBLE[] AS v
                       FROM embeddings, q WHERE vec_id <> 0
                       ORDER BY rel DESC, vec_id LIMIT 20),
                 p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                         ROUND(list_cosine_similarity(a.v, b.v), 4) AS s
                       FROM c a JOIN c b ON a.vec_id <> b.vec_id),
                 s1 AS (SELECT vec_id, ROUND(0.7 * rel, 6) AS score FROM c
                        ORDER BY rel DESC, vec_id LIMIT 1),
                 m2 AS (SELECT c.vec_id,
                          ROUND(0.7 * c.rel - 0.3 * MAX(p.s), 6) AS score
                        FROM c JOIN p ON p.ia = c.vec_id
                        WHERE p.ib IN (SELECT vec_id FROM s1)
                          AND c.vec_id NOT IN (SELECT vec_id FROM s1)
                        GROUP BY c.vec_id, c.rel),
                 s2 AS (SELECT vec_id, score FROM m2
                        ORDER BY score DESC, vec_id LIMIT 1),
                 sel2 AS (SELECT vec_id FROM s1 UNION ALL
                          SELECT vec_id FROM s2),
                 m3 AS (SELECT c.vec_id,
                          ROUND(0.7 * c.rel - 0.3 * MAX(p.s), 6) AS score
                        FROM c JOIN p ON p.ia = c.vec_id
                        WHERE p.ib IN (SELECT vec_id FROM sel2)
                          AND c.vec_id NOT IN (SELECT vec_id FROM sel2)
                        GROUP BY c.vec_id, c.rel),
                 s3 AS (SELECT vec_id, score FROM m3
                        ORDER BY score DESC, vec_id LIMIT 1),
                 sel3 AS (SELECT vec_id FROM sel2 UNION ALL
                          SELECT vec_id FROM s3),
                 m4 AS (SELECT c.vec_id,
                          ROUND(0.7 * c.rel - 0.3 * MAX(p.s), 6) AS score
                        FROM c JOIN p ON p.ia = c.vec_id
                        WHERE p.ib IN (SELECT vec_id FROM sel3)
                          AND c.vec_id NOT IN (SELECT vec_id FROM sel3)
                        GROUP BY c.vec_id, c.rel),
                 s4 AS (SELECT vec_id, score FROM m4
                        ORDER BY score DESC, vec_id LIMIT 1)
            SELECT 1 AS pick, vec_id, score FROM s1
            UNION ALL SELECT 2, vec_id, score FROM s2
            UNION ALL SELECT 3, vec_id, score FROM s3
            UNION ALL SELECT 4, vec_id, score FROM s4
            ORDER BY pick"""),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
      val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val cands = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv)) // one-row query vector
        .select(col("vec_id"),
          round(VectorOps.cosine(col("v"), col("qv")), 4).as("rel"), col("v"))
        .orderBy(col("rel").desc, col("vec_id")).limit(20)
        .localCheckpoint(true) // 20 rows, reused by pairs + every step
      val pair = cands.as("a").join(cands.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
          round(VectorOps.cosine(col("a.v"), col("b.v")), 4).as("s"))
        .localCheckpoint(true) // 20x19 rows, reused by every step
      val c2 = cands.select("vec_id", "rel")
      var picks = c2.orderBy(col("rel").desc, col("vec_id")).limit(1)
        .select(lit(1).as("pick"), col("vec_id"),
          round(lit(0.7) * col("rel"), 6).as("score"))
      for (k <- 2 to 4) {
        val selIds = picks.select(col("vec_id").as("ib"))
        val ms = pair.join(broadcast(selIds), Seq("ib"), "left_semi")
          .groupBy(col("ia").as("vec_id")).agg(max(col("s")).as("ms"))
        val mk = c2.join(ms, "vec_id")
          .join(broadcast(picks.select("vec_id")), Seq("vec_id"), "left_anti")
          .select(col("vec_id"), round(
            lit(0.7) * col("rel") - lit(0.3) * col("ms"), 6).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(1)
          .select(lit(k).as("pick"), col("vec_id"), col("score"))
        picks = picks.unionByName(mk)
      }
      // lazy cut (r20 opt): the output sort's range sampler re-ran every
      // MMR arm (tiny data, but each arm re-schedules its TakeOrdered +
      // join stages) — 4-row persist, one run
      picks.transform(graft.Cut.lazyCut).orderBy("pick")
    })

  /** Corpus-mix INDEPENDENCE check (the chi-square contingency table
    * over lang × source — the drift detector run when a crawl snapshot
    * lands): observed cell counts vs independence expectation
    * rowTotal·colTotal/n, with each cell's chi-square term
    * (o−e)²/e. Emitted PER CELL (domain²-bounded rows) rather than as
    * one summed statistic — a cross-cell double sum is summation-order
    * sensitive, the per-cell terms are single-expression deterministic,
    * and the per-cell view is the actionable one (WHICH slice drifted).
    * 100 TB: one (lang, source) aggregate over the corpus; the margins
    * re-aggregate the cell table (domain-bounded) and broadcast back. */
  val q126 = QueryDef(
    "q126_contingency",
    Some("""WITH cell AS (SELECT lang, source, COUNT(*) AS o
                          FROM documents GROUP BY 1, 2),
                 rt AS (SELECT lang, SUM(o) AS r FROM cell GROUP BY 1),
                 ct AS (SELECT source, SUM(o) AS ctot FROM cell GROUP BY 1),
                 nn AS (SELECT SUM(o) AS n FROM cell)
            SELECT cell.lang, cell.source, CAST(o AS BIGINT) AS observed,
                   CAST(ROUND(r * ctot * 1.0 / n, 4) AS DOUBLE) AS expected,
                   CAST(ROUND((o - r * ctot * 1.0 / n)
                              * (o - r * ctot * 1.0 / n)
                              / (r * ctot * 1.0 / n), 6) AS DOUBLE)
                     AS chi2_term
            FROM cell JOIN rt USING (lang) JOIN ct USING (source), nn
            ORDER BY lang, source"""),
    (s, dir) => {
      val cell = t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        .localCheckpoint(true) // domain²-bounded, feeds margins + output
      val rt = cell.groupBy("lang").agg(sum("o").as("r"))
      val ct = cell.groupBy("source").agg(sum("o").as("ctot"))
      val nn = cell.groupBy().agg(sum("o").as("n"))
      val e = col("r") * col("ctot") * lit(1.0) / col("n")
      cell.join(broadcast(rt), "lang")
        .join(broadcast(ct), "source")
        .crossJoin(broadcast(nn)) // one-row total
        .select(col("lang"), col("source"), col("o").as("observed"),
          round(e, 4).as("expected"),
          round((col("o") - e) * (col("o") - e) / e, 6).as("chi2_term"))
        .orderBy("lang", "source")
    })

  /** HARD-NEGATIVE MINING (the contrastive-training data step: the most
    * confusable wrong-class neighbors make the strongest negatives —
    * random negatives are too easy to teach a margin): top-5 cosine
    * neighbors of the pinned query vector restricted to vectors with a
    * DIFFERENT class label. Same broadcast + TakeOrdered shape as q28
    * with the label inequality pushed into the scan filter — the
    * filter prunes BEFORE the similarity compute, not after the sort.
    * 100 TB: one scan, no shuffle before the k-merge; batched mining
    * for all anchors composes this with q44's batch top-k shape. */
  val q133 = QueryDef(
    "q133_hard_negatives",
    Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv, label AS ql
                       FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, label,
                   ROUND(list_cosine_similarity(embedding::DOUBLE[], qv), 4)
                     AS sim
            FROM embeddings, q
            WHERE vec_id <> 0 AND label <> ql
            ORDER BY sim DESC, vec_id LIMIT 5"""),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("label").as("ql"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q)) // one-row query vector + label
        .filter(col("label") =!= col("ql"))
        .select(col("vec_id"), col("label"),
          round(VectorOps.cosine(col("v"), col("qv")), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
    })

  /** Per-slice DUPLICATION-RATE diagnostics (the dedup pre-flight: which
    * sources are worth deduplicating, and the post-flight: which still
    * leak duplicates): per source, document count, distinct texts, and
    * duplicate rate in ppm. q29 answers "how many distinct docs" for the
    * corpus; this is the actionable per-slice breakdown that drives
    * source-level crawl policy. The scale-safe spelling distincts the
    * 128-bit hash pair (q29's documented variant), keeping the shuffle
    * at 16 bytes + source, not the payload. */
  val q134 = QueryDef(
    "q134_dup_rate",
    Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_docs,
                   CAST(ROUND((COUNT(*) - COUNT(DISTINCT text)) * 1000000.0
                        / COUNT(*)) AS BIGINT) AS dup_ppm
            FROM documents GROUP BY source ORDER BY source"""),
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          count_distinct(col("text")).as("distinct_docs"))
        .withColumn("dup_ppm",
          round((col("docs") - col("distinct_docs")) * 1000000.0
            / col("docs")).cast("long"))
        .orderBy("source"))

  /** Engine-only scale variant of q134: the per-source distinct runs
    * over a 128-bit hash pair (q29's dedupHashKeyed device, grouped) so
    * the shuffle carries 16-byte keys + source, never payloads. NULL
    * texts map to an all-NULL tuple, which COUNT(DISTINCT …) skips —
    * matching COUNT(DISTINCT text) — while docs still counts every row. */
  def dupRateHashKeyed(s: SparkSession, dir: String): DataFrame = {
    val nn = col("text").isNotNull
    t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        countDistinct(when(nn, xxhash64(col("text"))),
          when(nn, xxhash64(reverse(col("text"))))).as("distinct_docs"))
      .withColumn("dup_ppm",
        round((col("docs") - col("distinct_docs")) * 1000000.0
          / col("docs")).cast("long"))
      .orderBy("source")
  }

  /** Deterministic per-group k-sampling by hash rank (the reproducible
    * "show me 3 docs per source" eyeball/debug/labeling sample —
    * ORDER BY rand() gives a different answer every run and every
    * retry): row_number per source over md5(doc_id) picks a uniform,
    * run-stable 3 docs per group. 100 TB: one shuffle on the group key,
    * k-bounded output per group; the hash rank needs no global state,
    * so re-running the pipeline (or re-trying a failed stage) samples
    * identically — the property that makes the sample auditable. */
  val q135 = QueryDef(
    "q135_group_sample",
    Some("""SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(rk AS INTEGER) AS rk
            FROM (SELECT source, doc_id,
                         row_number() OVER (PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                           AS rk
                  FROM documents)
            WHERE rk <= 3 ORDER BY source, rk"""),
    (s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
        .orderBy("source", "rk")
    })

  /** Token-budget corpus packing by DISTRIBUTED PREFIX SUM (the "select
    * documents in priority order until the budget is spent" step of
    * corpus assembly; longest-first here, the long-context-training
    * preference): running total over the global (n_chars DESC, doc_id)
    * order, keep while ≤ 50 000 chars. The naive spelling is a window
    * over a global ORDER BY — ONE partition at 100 TB. This is the
    * scale spelling: range-repartition on the sort key, per-partition
    * running sums, then a |partitions|-row offset table (cumulative sum
    * of partition totals) broadcast back — the classic two-pass prefix
    * sum; no stage ever sees more than its partition. Boundary choice
    * cannot change results: the sort key is total (doc_id tiebreak), so
    * cum depends only on the global order. */
  val q136 = QueryDef(
    "q136_budget_pack",
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(cum AS BIGINT) AS cum
            FROM (SELECT doc_id, n_chars,
                         SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
                  FROM documents)
            WHERE cum <= 50000 ORDER BY cum"""),
    (s, dir) => {
      // the two-pass prefix sum is the shared fact-scale device since
      // r13 — see graft.operators.GlobalRank (q142 rides the same code)
      val docs = t(s, dir, "documents").select("doc_id", "n_chars")
      graft.operators.GlobalRank
        .withGlobalRank(docs, Seq(col("n_chars").desc, col("doc_id")),
          sumCol = Some(col("n_chars")), partitions = 8)
        .filter(col("gcum") <= 50000)
        .select(col("doc_id"), col("n_chars"), col("gcum").as("cum"))
        .orderBy("cum")
    })

  /** Train/test SPLIT-LEAKAGE audit (the eval-integrity check run
    * before trusting any benchmark number): deterministic hash split on
    * doc_id (md5 first hex digit < 'c' ≈ 75 % train), then test docs
    * whose 32-char text prefix appears verbatim in train, counted per
    * source. Prefix fingerprints catch near-verbatim leakage that exact
    * full-text equality misses (boilerplate openings, template reuse);
    * q57's n-gram contamination is the heavier fuzzy complement.
    * 100 TB: the join shuffles 32-byte fingerprints (train side
    * pre-deduped, so it is a semi-join by construction), never document
    * payloads; the split needs no lookup table — any worker can
    * recompute membership from the id alone. */
  val q137 = QueryDef(
    "q137_split_leakage",
    Some("""WITH s AS (SELECT doc_id, source, substr(text, 1, 32) AS fp,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                     AS is_train
            FROM documents)
            SELECT b.source,
                   CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS leaked
            FROM (SELECT DISTINCT fp FROM s WHERE is_train) a
            JOIN (SELECT doc_id, source, fp FROM s WHERE NOT is_train) b
              ON a.fp = b.fp
            GROUP BY b.source ORDER BY b.source"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("fp", substring(col("text"), 1, 32))
        .withColumn("is_train",
          substring(md5(col("doc_id").cast("string")), 1, 1) < "c")
      val train = docs.filter(col("is_train")).select("fp").distinct()
      docs.filter(!col("is_train"))
        .select("doc_id", "source", "fp")
        .join(train, "fp")
        .groupBy("source").agg(count_distinct(col("doc_id")).as("leaked"))
        .orderBy("source")
    })

  /** BATCH hard-negative mining (q133 for the whole anchor set — the
    * form a contrastive-training data job actually runs): all anchors
    * broadcast once, ONE corpus pass computes every (anchor, candidate)
    * similarity with the label inequality pruning inside the scan, one
    * window picks per-anchor top-3. Composes q44's batch device with
    * q133's constraint: the corpus scan amortizes across the anchor
    * batch, and at 100 TB the per-anchor rank runs over the already
    * label-pruned candidate stream, never the raw cross product. */
  val q138 = QueryDef(
    "q138_batch_negatives",
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
                              label AS ql
                       FROM embeddings WHERE vec_id < 4),
            s AS (SELECT q.qid, c.vec_id,
                    list_cosine_similarity(c.embedding::DOUBLE[], q.qv)
                      AS sim
                  FROM embeddings c, q
                  WHERE c.vec_id <> q.qid AND c.label <> q.ql),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY sim DESC, vec_id) AS rn FROM s)
            SELECT qid, vec_id, ROUND(sim, 4) AS sim
            FROM r WHERE rn <= 3 ORDER BY qid, vec_id"""),
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("ql"))
      val sims = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid") && col("label") =!= col("ql"))
        .select(col("qid"), col("vec_id"),
          VectorOps.cosine(col("embedding"), col("qv")).as("sim_raw"))
      val w = Window.partitionBy("qid")
        .orderBy(col("sim_raw").desc, col("vec_id"))
      sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id"),
          round(col("sim_raw"), 4).as("sim"))
        .orderBy("qid", "vec_id")
    })

  /** Sequence-length BUCKETING diagnostics (the padding-efficiency
    * pre-flight for fixed-shape training batches): docs per 256-char
    * bucket and the characters padding would waste at that bucket width
    * — the number that decides bucketed batching vs packing (q67).
    * All-integer arithmetic (DIV, never `/` — both engines' `/` is
    * float division); one map-side-combined aggregate, |buckets|-row
    * output at any corpus size. */
  val q139 = QueryDef(
    "q139_length_buckets",
    Some("""SELECT CAST((n_chars + 255) // 256 AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(SUM(((n_chars + 255) // 256) * 256 - n_chars)
                        AS BIGINT) AS pad_chars
            FROM documents GROUP BY 1 ORDER BY 1"""),
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("bucket", expr("(n_chars + 255) div 256"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("docs"),
          sum(col("bucket") * 256 - col("n_chars")).as("pad_chars"))
        .orderBy("bucket"))

  /** Embedding-table HEALTH stats per class (the sanity gate before any
    * similarity work — zero vectors poison cosine, collapsed norms
    * signal a broken encoder): per label, count, exact norm sum, zero
    * vectors, min/max norm. Determinism: the dot product is
    * sequential-order in both engines, sqrt is IEEE-exact, per-row
    * norms round to 4 dp into DECIMAL before the order-insensitive
    * decimal SUM; min/max round after aggregation (same value set →
    * same extremum). One map-side-combined pass, |labels|-row output. */
  val q140 = QueryDef(
    "q140_embedding_health",
    Some("""SELECT label, CAST(COUNT(*) AS BIGINT) AS vecs,
                   CAST(SUM(CAST(ROUND(sqrt(list_dot_product(
                          embedding::DOUBLE[], embedding::DOUBLE[])), 4)
                        AS DECIMAL(18,4))) AS DOUBLE) AS norm_sum,
                   CAST(SUM(CASE WHEN list_dot_product(
                          embedding::DOUBLE[], embedding::DOUBLE[]) = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS zero_vecs,
                   ROUND(MIN(sqrt(list_dot_product(
                     embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
                     AS min_norm,
                   ROUND(MAX(sqrt(list_dot_product(
                     embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
                     AS max_norm
            FROM embeddings GROUP BY label ORDER BY label"""),
    (s, dir) => {
      val v = VectorOps.toDoubleVec(col("embedding"))
      // ONE higher-order dot-product pass per row; norm derives from it
      t(s, dir, "embeddings")
        .select(col("label"), VectorOps.dot(v, v).as("sq"))
        .withColumn("norm", sqrt(col("sq")))
        .groupBy("label")
        .agg(count(lit(1)).as("vecs"),
          sum(round(col("norm"), 4).cast("decimal(18,4)"))
            .cast("double").as("norm_sum"),
          sum(when(col("sq") === 0, 1L).otherwise(0L)).as("zero_vecs"),
          round(min(col("norm")), 4).as("min_norm"),
          round(max(col("norm")), 4).as("max_norm"))
        .orderBy("label")
    })

  /** SOURCE-VOCABULARY OVERLAP matrix (which corpus slices are
    * near-copies of each other — the slice-level complement to q134's
    * within-slice dup rate and q126's distribution drift): Jaccard over
    * each source's DISTINCT word-bigram vocabulary, top-15 most-
    * overlapping pairs. The vocabularies are sets, so the similarity is
    * exact, not sketched; all fan-out is map-side (bigram explode), the
    * one shuffle is DISTINCT (source, bigram), the pair join keys on
    * the bigram with a source inequality, and the output is
    * |sources|²-bounded. 100 TB: hash the bigram (q29's 16-byte-key
    * device) and the shuffle never carries text. */
  val q147 = QueryDef(
    "q147_vocab_overlap",
    Some("""WITH tk AS (SELECT source, string_split(lower(text), ' ') AS t
                        FROM documents),
            v AS (SELECT DISTINCT source,
                    unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS w
                  FROM tk),
            sz AS (SELECT source, COUNT(*) AS nv FROM v GROUP BY source)
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS shared,
                   CAST(ROUND(COUNT(*) * 1000000.0
                        / (sa.nv + sb.nv - COUNT(*))) AS BIGINT)
                     AS jaccard_ppm
            FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
            JOIN sz sa ON sa.source = a.source
            JOIN sz sb ON sb.source = b.source
            GROUP BY a.source, b.source, sa.nv, sb.nv
            ORDER BY jaccard_ppm DESC, src_a, src_b LIMIT 15"""),
    (s, dir) => {
      import s.implicits._
      // compiled bigram emission (r20 optimization round — the q94
      // shape): the interpreted transform lambda built every bigram
      // through per-element lambda dispatch
      val v = t(s, dir, "documents")
        .select(col("source"), col("text")).as[(String, String)]
        .flatMap { case (src, text) =>
          val tk = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
          if (tk.length < 2) Iterator.empty
          else (0 until tk.length - 1).iterator.map(i =>
            (src, tk(i) + " " + tk(i + 1)))
        }
        .toDF("source", "w")
        .distinct()
      val sz = v.groupBy("source").agg(count(lit(1)).as("nv"))
      v.as("a").join(v.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("shared"))
        .join(broadcast(sz.select(col("source").as("src_a"),
          col("nv").as("na"))), "src_a")
        .join(broadcast(sz.select(col("source").as("src_b"),
          col("nv").as("nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("shared"),
          round(col("shared") * 1000000.0
            / (col("na") + col("nb") - col("shared"))).cast("long")
            .as("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("src_a"), col("src_b"))
        .limit(15)
    })

  /** MUTUAL nearest-neighbor pairs (the bitext-mining / duplicate-pair
    * alignment primitive: a pair is kept only when each side is the
    * OTHER's top-1 — one-directional top-1 matches are mostly hubs).
    * The top-1 stage is the EXACT dense block scan
    * [[graft.operators.BroadcastNn.top1Self]]: the corpus broadcasts
    * once as primitive arrays and each anchor argmaxes over it inside
    * mapPartitions — no |V|² joined-row materialization (r12's
    * crossJoin spelling copied ~1 KB of arrays per pair and measured
    * 6.5 s for a pair space whose raw FLOPs are milliseconds). The
    * mutual check is a self-join of the |V|-row top-1 table, unchanged.
    * Zero-norm vectors are dropped up front (cosine NaN would outrank
    * every real sim in a max-based plan — q140 is the health audit).
    * Why still exact, not ANN: r13 MEASURED the sign-bit candidate
    * tier on this corpus — the true top-1's Hamming rank reaches
    * 1423/2000 at sf0.1 and mutual-pair recall at K=64 candidates is
    * 0.67 — near-random embeddings give binary signatures no purchase,
    * so an ANN prefilter here would silently change answers. The ANN
    * spelling lives in q149_mutual_nn_ann with the SAME downstream plan
    * and an oracle that replays its candidate rule. 100 TB: broadcast
    * scan while the corpus fits the byte budget (5 GB at 10M×64-dim),
    * q149's candidate tier beyond it. */
  val q148 = QueryDef(
    "q148_mutual_nn",
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings
                       WHERE list_sum(list_transform(embedding::DOUBLE[],
                               x -> x * x)) > 0),
            s AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                    list_cosine_similarity(a.v, b.v) AS sim
                  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
            t1 AS (SELECT ia, ib, sim FROM (SELECT ia, ib, sim,
                     ROW_NUMBER() OVER (PARTITION BY ia
                       ORDER BY sim DESC, ib) AS rn FROM s)
                   WHERE rn = 1)
            SELECT x.ia AS id_a, x.ib AS id_b, ROUND(x.sim, 4) AS sim
            FROM t1 x JOIN t1 y ON x.ia = y.ib AND x.ib = y.ia
              AND x.ia < x.ib
            ORDER BY id_a"""),
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val top1 = graft.operators.BroadcastNn
        .top1Self(e, "vec_id", "embedding")
      top1.as("x").join(top1.as("y"),
          col("x.ia") === col("y.ib") && col("x.ib") === col("y.ia") &&
            col("x.ia") < col("x.ib"))
        .select(col("x.ia").as("id_a"), col("x.ib").as("id_b"),
          round(col("x.sim"), 4).as("sim"))
        // lazy cut (r20 opt): the output sort's range sampler re-ran the
        // probe-side compiled NN pass (no shuffle directly below the
        // sort) — output-scale persist, one run (full rationale at
        // verifyOnShingles)
        .transform(graft.Cut.lazyCut)
        .orderBy("id_a")
    })

  /** Mutual-NN by ANN CANDIDATES — q148's 100 TB escape hatch as a
    * REGISTERED, hash-gated plan. r13 generated candidates by an
    * all-pairs Hamming crossJoin (honest but O(n²) — the one scale-
    * killer the r13 verdict named); this round the candidate stage is
    * MULTI-PROBE SIGNATURE BANDING ([[graft.operators.BandedAnn]], no
    * cross product in either physical plan): the 64-bit sign signature
    * (q89's tier) splits into [[NnBands]] bands of [[NnBandBits]] bits
    * and a pair becomes a candidate iff SOME band differs in ≤
    * [[NnProbeRadius]] bits (min-band-Hamming ≤ radius). Within the
    * byte budget the signature index (24 B/row — 240 MB at 10M vectors)
    * broadcasts as primitive CSR buckets and each anchor probes its
    * bands × 37 keys with O(1) epoch-stamp dedup; past budget the SAME
    * rule runs as a distributed equi-join (linear key expansion per
    * side, value-distinct bounded top-K aggregate — O(K) state per
    * anchor, map-side combined). K=64 candidates by (full Hamming, id),
    * exact cosine re-ranks them, and the mutual check is unchanged.
    *
    * Parameters are MEASURED against this corpus, not folklore: the
    * embeddings are near-random (exact mutual pairs sit at cosine ~0.39,
    * Hamming ~24/64 vs 32 for strangers), so the verdict-suggested
    * 4×16-bit bands at radius 1 pass only 4% of true mutual pairs —
    * selective banding and this corpus's recall floor are mathematically
    * incompatible (P[band collision] per bit-prob p has no gap when
    * p_nn≈0.37 vs p_rand=0.5). 8×8-bit bands at radius 2 pass 98.6–100%
    * of the exact mutual pairs at every sf while keeping the measured
    * mutual recall at 0.876/0.906/0.666 (sf0.001/0.01/0.1) — within a
    * point of the r13 all-pairs rule. Candidate volume on THIS corpus is
    * ~71% of pairs (measured; no-free-lunch on gapless random data); on
    * a production near-dup corpus (cos ≥ 0.85 ⇒ p_diff ≤ 0.18,
    * per-band pass ≥ 0.92) the SAME plan runs selective by widening
    * bands/shrinking radius — parameter tuning, not a rewrite. Hash
    * parity at ANY recall because the DuckDB oracle REPLAYS the banded
    * rule (min-band-Hamming ≤ radius, then top-K by (hamming, id)) —
    * the q37/q47/q72 pinned-constants pattern. */
  val NnBands = 8
  val NnBandBits = 8
  val NnProbeRadius = 2
  val q149 = QueryDef(
    "q149_mutual_nn_ann", {
      // per-band Hamming over the sign vector, 1-indexed positions
      val bandHams = (0 until NnBands).map { b =>
        s"len(list_filter(range(${b * NnBandBits + 1}, ${(b + 1) * NnBandBits + 1}), i -> (a.v[i] >= 0) <> (b.v[i] >= 0)))"
      }
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings
                       WHERE list_sum(list_transform(embedding::DOUBLE[],
                               x -> x * x)) > 0),
            h AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                    len(list_filter(range(1, 65),
                      i -> (a.v[i] >= 0) <> (b.v[i] >= 0))) AS ham,
                    LEAST(${bandHams.mkString(", ")}) AS mbh,
                    list_cosine_similarity(a.v, b.v) AS sim
                  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
            cand AS (SELECT ia, ib, sim, ROW_NUMBER() OVER
                       (PARTITION BY ia ORDER BY ham, ib) AS rn
                     FROM h WHERE mbh <= $NnProbeRadius),
            t1 AS (SELECT ia, ib, sim FROM (SELECT ia, ib, sim,
                     ROW_NUMBER() OVER (PARTITION BY ia
                       ORDER BY sim DESC, ib) AS rr
                     FROM cand WHERE rn <= 64)
                   WHERE rr = 1)
            SELECT x.ia AS id_a, x.ib AS id_b, ROUND(x.sim, 4) AS sim
            FROM t1 x JOIN t1 y ON x.ia = y.ib AND x.ib = y.ia
              AND x.ia < x.ib
            ORDER BY id_a""")
    },
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), VectorOps.toDoubleVec(col("embedding")).as("v"))
        // zero-norm guard (q148 posture; the all-ones signature a zero
        // vector would get is meaningless and its cosine is NaN) —
        // mirrored in the oracle's e CTE (ADVICE r13)
        .filter(VectorOps.sqNorm(col("v")) > 0d)
        .withColumn("sig", VectorOps.signBits64(col("v")))
      val sigs = emb.select(col("vec_id"), col("sig"))
      // banded multi-probe candidate generation — [[graft.operators
      // .BandedAnn]]: byte-budget-gated broadcast signature index
      // (primitive CSR buckets, epoch-stamp dedup, per-anchor sorted
      // top-K — the BroadcastNn device) with an identical-rule
      // distributed equi-join past budget. Never a cross product.
      val cand = graft.operators.BandedAnn.candidatesSelf(
        sigs, "vec_id", "sig",
        bands = NnBands, bandBits = NnBandBits,
        radius = NnProbeRadius, k = 64)
      // exact-cosine re-rank: vector fetch through the byte-budget
      // device (VERDICT r14 #1 — the hint must never force a
      // corpus-sized broadcast; past budget this is a shuffle equi-join
      // of K·|V| candidate rows against |V| vectors)
      val top1 = graft.operators.VectorJoin.attachPair(
          cand, emb.select(col("vec_id"), col("v")), "vec_id", "v")
        .select(col("ia"), col("ib"),
          VectorOps.cosine(col("va"), col("vb")).as("sim"))
        .groupBy("ia")
        .agg(max(struct(col("sim"), (-col("ib")).as("nib"))).as("m"))
        .select(col("ia"), (-col("m.nib")).as("ib"), col("m.sim").as("sim"))
      top1.as("x").join(top1.as("y"),
          col("x.ia") === col("y.ib") && col("x.ib") === col("y.ia") &&
            col("x.ia") < col("x.ib"))
        .select(col("x.ia").as("id_a"), col("x.ib").as("id_b"),
          round(col("x.sim"), 4).as("sim"))
        .orderBy("id_a")
    })

  /** IVF + PQ composite ANN — the production FAISS IndexIVFPQ shape
    * (r13), composing the two tiers the registry proves separately:
    * q47's coarse quantizer ROUTES (corpus bucketed by nearest of
    * [[IvfK]] centroids, the query probes its [[IvfProbes]] nearest —
    * candidate volume ≈ nProbe/K of the corpus) and q72's PQ codes
    * SCORE (asymmetric-distance: one 8×16 query table, 8 lookups per
    * candidate, the codegen'd [[graft.functions.PqAdcScore]] over the
    * scan). The ADC scan touches ONLY routed candidates via a semi-join
    * — at 100 TB the bucket is a stored partition column (probes prune
    * at the scan), the corpus holds 8-byte codes, and the codebooks +
    * query table broadcast at kilobyte scale. Hash-gated END TO END:
    * both tiers pin their codebooks to leading corpus rows (table data
    * both engines read identically — the q37/q47/q72 pattern), so the
    * composed pipeline needs no float literals in the oracle either;
    * the Lloyd-trained codebooks (q47/q72 production path) differ only
    * in centroid doubles — and since r16 the trained COARSE tier is
    * itself oracle-gated end to end (q169/q170 relearn it via unrolled
    * CTE rounds; X45). Exact-cosine refinement of the ADC top-k is
    * q47's exactRerank — one more candidate-bounded join when ADC
    * precision isn't enough. */
  val q153 = QueryDef(
    "q153_ivfpq_topk", {
      val adcPivot = (0 until PqM)
        .map(sp => s"COALESCE(MAX(CASE WHEN s = $sp THEN ld * ld END), 0)")
        .mkString(" + ")
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                          FROM embeddings),
           c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfK),
           q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id = 0),
           casg AS (SELECT vec_id, cid AS bucket FROM (
             SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
             FROM e, c) WHERE rn = 1),
           qasg AS (SELECT qid, cid AS bucket FROM (
             SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
               ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
             FROM q, c) WHERE rn <= $IvfProbes),
           cand AS (SELECT DISTINCT vec_id
                    FROM casg JOIN qasg USING (bucket) WHERE vec_id <> 0),
           sub AS (SELECT vec_id, s,
                          list_slice(v, s * $PqSub + 1, s * $PqSub + $PqSub)
                            AS sv
                   FROM e, unnest(range(0, $PqM)) AS u(s)),
           cent AS (SELECT vec_id AS cid, s, sv AS cv
                    FROM sub WHERE vec_id < $PqCodes),
           enc AS (SELECT vec_id, s, cid AS code FROM (
             SELECT sub.vec_id, sub.s, cent.cid, row_number() OVER (
               PARTITION BY sub.vec_id, sub.s
               ORDER BY list_distance(sub.sv, cent.cv), cent.cid) AS rn
             FROM sub JOIN cent USING (s)) WHERE rn = 1),
           qsub AS (SELECT s, sv AS qv2 FROM sub WHERE vec_id = 0),
           ld AS (SELECT enc.vec_id, enc.s,
                         list_distance(qsub.qv2, cent.cv) AS ld
                  FROM enc JOIN cent ON enc.s = cent.s AND enc.code = cent.cid
                    JOIN qsub ON qsub.s = enc.s
                    JOIN cand ON cand.vec_id = enc.vec_id),
           adc AS (SELECT vec_id, $adcPivot AS dist FROM ld GROUP BY vec_id)
           SELECT vec_id, ROUND(dist, 4) AS adc FROM adc
           ORDER BY dist, vec_id LIMIT 5""")
    },
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .select(col("vec_id"), col("v"))
      // ROUTE: coarse-quantizer buckets, query probes (q47 tier, pinned)
      val cents = e.filter(col("vec_id") < IvfK).orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toArray)
      val queries = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val cand = ivfAssignCompiled(s, e, "vec_id", "v", cents, 1)
        .join(broadcast(
          ivfAssignCompiled(s, queries, "qid", "qv", cents, IvfProbes)),
          "bucket")
        .filter(col("vec_id") =!= col("qid"))
        .select("vec_id").distinct()
      // SCORE: PQ/ADC over the routed candidates only (q72 tier, pinned)
      val cb = e.filter(col("vec_id") < PqCodes).orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toArray)
      val qv = e.filter(col("vec_id") === 0).head().getSeq[Double](1).toArray
      val dtab = pqQueryDistTable(qv, cb)
      t(s, dir, "embeddings")
        .join(cand, Seq("vec_id"), "left_semi")
        .select(col("vec_id"), graft.functions.PqAdcScore
          .score(col("embedding"), cb, dtab, PqM, PqSub, PqCodes).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(5)
        .select(col("vec_id"), round(col("dist"), 4).as("adc"))
    })

  /** BPE tokenizer APPLICATION (r13) — q79's counting kernel is the
    * TRAINING side of byte-pair encoding; this is the inference side
    * every pipeline actually runs per document: encode words under a
    * merge table and account tokens per slice (the token-budget number
    * corpus planning consumes). The merge table is PINNED config (the
    * q37-planes pattern — the oracle string is static, so constants
    * must be data-independent; [[TextOps.BpeMerges]] respects the
    * invariant that makes rank-order application ≡ greedy BPE, proven
    * by a differential vs an independent greedy implementation in
    * LlmOpsSpec). Hash parity is STRUCTURAL, not numeric: engine and
    * oracle run the literally identical replace chain (Java
    * `String.replace` and DuckDB `REPLACE` are both
    * leftmost-non-overlapping; [[TextOps.BpePasses]] fixpoint passes
    * each). Plan: encoding runs ONCE PER DISTINCT WORD (the q79
    * vocabulary-scale trick — a vocab-bounded udf, never a
    * corpus-scale one) and joins back to weighted counts; one
    * (lang, word) shuffle, vocab-bounded compute, |langs|-row output. */
  val q155 = QueryDef(
    "q155_bpe_tokens", {
      var chain = "' ' || array_to_string(string_split(w, ''), ' ') || ' '"
      for ((a, b) <- TextOps.BpeMerges; _ <- 0 until TextOps.BpePasses)
        chain = s"REPLACE($chain, ' $a $b ', ' $a$b ')"
      Some(s"""WITH tok AS (SELECT lang, unnest(string_split(lower(text),
                              ' ')) AS w FROM documents),
           ws AS (SELECT lang, w, COUNT(*) AS c FROM tok
                  WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1, 2),
           enc AS (SELECT w, len(string_split(trim($chain), ' ')) AS bpe,
                          len(w) AS chars
                   FROM (SELECT DISTINCT w FROM ws)),
           agg AS (SELECT lang, SUM(c * bpe) AS bpe_tokens,
                          SUM(c * chars) AS chars, SUM(c) AS words
                   FROM ws JOIN enc USING (w) GROUP BY lang)
           SELECT lang, CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
                  CAST(words AS BIGINT) AS words,
                  CAST(ROUND(bpe_tokens * 1000000.0 / chars) AS BIGINT)
                    AS tokens_per_mchar
           FROM agg ORDER BY lang""")
    },
    (s, dir) => {
      val enc = udf((w: String) => TextOps.bpeTokenCount(w))
      val ws = t(s, dir, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
        // both engines restrict to plain [a-z0-9] words: tokenization of
        // punctuation/unicode is not what this operator measures
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      val e = ws.select("w").distinct()
        .withColumn("bpe", enc(col("w")))
        .withColumn("chars", length(col("w")).cast("long"))
      ws.join(e, "w")
        .groupBy("lang")
        .agg(sum(col("c") * col("bpe")).as("bpe_tokens"),
          sum(col("c") * col("chars")).as("chars"),
          sum(col("c")).as("words"))
        .select(col("lang"), col("bpe_tokens"), col("words"),
          round(col("bpe_tokens") * 1000000.0 / col("chars")).cast("long")
            .as("tokens_per_mchar"))
        .orderBy("lang")
    })

  /** Iterated BPE TRAINING (r14, VERDICT r13 "What's missing" #2) — the
    * loop q79 (one round's pair counts) and q155 (application of a
    * pinned table) bracket, as a hash-gated query: learn
    * [[BpeTrainRounds]] merges from the documents vocabulary via
    * [[graft.operators.BpeTrainer]] and emit the merge table itself
    * (rank, l, r, pair count). The DuckDB oracle replays the WHOLE
    * TRAINING LOOP as unrolled CTE rounds — per round: adjacent-pair
    * counts over the segmented vocab (q79's lateral-unnest spelling),
    * argmax under the total (cnt DESC, l, r) order via ORDER BY/LIMIT 1,
    * rewrite via the shared leftmost-non-overlapping REPLACE chain
    * (q155's engine-identity argument) — so both engines LEARN the
    * table independently and the hash compares the learned artifacts.
    * Corpus-scale work is the one (word, count) aggregate; rounds are
    * vocabulary-scale (BpeTrainer scaladoc has the 100 TB posture). */
  val BpeTrainRounds = 10

  /** Shared BPE-oracle builders (q156 trains, q163 trains AND applies —
    * one definition so a fix to the training-CTE shape can never land
    * in only one of them): the fixpoint leftmost-non-overlapping
    * REPLACE chain over `alias`'s one-row (l, r) merge, and the
    * unrolled p/m/r training rounds. */
  private def bpeReplChain(alias: String, inner: String): String =
    (1 to TextOps.BpePasses).foldLeft(inner)((s, _) =>
      s"REPLACE($s, ' ' || $alias.l || ' ' || $alias.r || ' ', " +
        s"' ' || $alias.l || $alias.r || ' ')")

  private def bpeTrainCtes: String = (1 to BpeTrainRounds).map { i =>
    s"""p$i AS (SELECT t.s[u.i] AS l, t.s[u.i + 1] AS r,
                    CAST(SUM(t.c) AS BIGINT) AS cnt
             FROM (SELECT string_split(trim(seg), ' ') AS s, c FROM r${i - 1}) t,
                  unnest(range(1, len(t.s))) AS u(i)
             GROUP BY 1, 2),
        m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
        r$i AS (SELECT ${bpeReplChain("m", "seg")} AS seg, c FROM r${i - 1}, m$i m)"""
  }.mkString(",\n")

  val q156 = QueryDef(
    "q156_bpe_train", {
      val roundCtes = bpeTrainCtes
      val unionAll = (1 to BpeTrainRounds)
        .map(i => s"SELECT CAST($i AS INTEGER) AS rank, l, r, cnt FROM m$i")
        .mkString(" UNION ALL ")
      Some(s"""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                        FROM documents),
          wc AS (SELECT w, COUNT(*) AS c FROM tok
                 WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1),
          r0 AS (SELECT ' ' || array_to_string(string_split(w, ''), ' ')
                        || ' ' AS seg, c FROM wc),
          $roundCtes
          SELECT rank, l, r, cnt FROM ($unionAll) ORDER BY rank""")
    },
    (s, dir) => {
      val wc = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      // passes pinned to the shared constant the oracle CTEs use — the
      // trainer's own default happens to match, but an explicit tie
      // survives a BpePasses change (r15 review)
      val learned = graft.operators.BpeTrainer.train(wc, BpeTrainRounds,
        passes = TextOps.BpePasses)
      import s.implicits._
      learned.toDF("rank", "l", "r", "cnt").orderBy("rank")
    })

  /** BPE train → APPLY, end to end (r15, VERDICT r14 "What's missing"
    * #1): q156 learns a merge table and q155 applies a PINNED one; this
    * closes the bracket a real pipeline runs — train [[BpeTrainRounds]]
    * merges on the corpus vocabulary with [[graft.operators.BpeTrainer]],
    * then tokenize the SAME corpus under the table just learned and
    * report per-language token economics. No pinned constants anywhere:
    * the oracle replays the whole arc — q156's unrolled-CTE training
    * rounds learn m1…m10 independently, then q155's structural REPLACE
    * chain applies them (each mi is a one-row CTE cross-joined into the
    * encode step, so the chain references the LEARNED strings, not
    * literals). Plan: ONE corpus scan builds the (lang, word, count)
    * table (checkpointed — training vocab, distinct-word encode and the
    * final weighted join all read it); training is vocabulary-scale per
    * round (BpeTrainer scaladoc); application encodes each DISTINCT word
    * once through a codegen'd replace chain and joins back to weighted
    * counts — the q155/q79 two-stage posture, so a word appearing a
    * billion times at 100 TB trains and encodes once. */
  val q163 = QueryDef(
    "q163_bpe_train_apply", {
      val roundCtes = bpeTrainCtes // byte-shared with q156's oracle
      // the learned one-row mi CTEs cross-join into the encode step, so
      // the application chain references the TRAINED strings. This
      // cross-join makes q163's oracle DEPEND on all ten mi being
      // non-empty (an empty mi would zero the encode) — the engine side
      // requires the full table below, so degeneration fails loudly on
      // both sides instead of diverging
      val applyChain = (1 to BpeTrainRounds).foldLeft(
        "' ' || array_to_string(string_split(w, ''), ' ') || ' '")(
        (s, i) => bpeReplChain(s"t$i", s))
      val applyFrom = (1 to BpeTrainRounds).map(i => s"m$i t$i")
        .mkString(", ")
      Some(s"""WITH tok AS (SELECT lang, unnest(string_split(lower(text),
                              ' ')) AS w FROM documents),
          ws AS (SELECT lang, w, COUNT(*) AS c FROM tok
                 WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1, 2),
          wc AS (SELECT w, SUM(c) AS c FROM ws GROUP BY w),
          r0 AS (SELECT ' ' || array_to_string(string_split(w, ''), ' ')
                        || ' ' AS seg, c FROM wc),
          $roundCtes,
          enc AS (SELECT w, len(string_split(trim($applyChain), ' ')) AS bpe,
                         len(w) AS chars
                  FROM (SELECT DISTINCT w FROM ws), $applyFrom),
          agg AS (SELECT lang, SUM(c * bpe) AS bpe_tokens,
                         SUM(c * chars) AS chars, SUM(c) AS words
                  FROM ws JOIN enc USING (w) GROUP BY lang)
          SELECT lang, CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
                 CAST(words AS BIGINT) AS words,
                 CAST(ROUND(bpe_tokens * 1000000.0 / chars) AS BIGINT)
                   AS tokens_per_mchar
          FROM agg ORDER BY lang""")
    },
    (s, dir) => {
      val ws = t(s, dir, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // one corpus scan feeds train + apply
      val learned = graft.operators.BpeTrainer.train(
        ws.groupBy("w").agg(sum("c").as("c")), BpeTrainRounds,
        passes = TextOps.BpePasses) // pinned to the oracle's constant
      // a degenerate vocabulary (fewer than BpeTrainRounds merges) would
      // leave some oracle mi CTE empty and zero its encode cross-join
      // while the engine applied a shorter chain — fail loudly instead
      // of hash-diverging (r15 review; impossible on this corpus)
      require(learned.size == BpeTrainRounds,
        s"q163: vocabulary degenerated after ${learned.size} merges, " +
          s"oracle unrolls $BpeTrainRounds rounds")
      // apply the LEARNED table to each DISTINCT word: the same
      // sentinel segmentation and leftmost-non-overlapping replace
      // chain as training (codegen'd — vocab-scale, never corpus-scale)
      val segInit = udf(graft.operators.BpeTrainer.segWord _)
      val applied = learned.foldLeft(segInit(col("w")): Column) {
        case (c, (_, l, r, _)) =>
          (1 to TextOps.BpePasses).foldLeft(c)((cc, _) =>
            call_function("replace", cc, lit(s" $l $r "), lit(s" $l$r ")))
      }
      val enc = ws.select("w").distinct()
        .withColumn("bpe", size(split(trim(applied), " ")).cast("long"))
        .withColumn("chars", length(col("w")).cast("long"))
      ws.join(enc, "w")
        .groupBy("lang")
        .agg(sum(col("c") * col("bpe")).as("bpe_tokens"),
          sum(col("c") * col("chars")).as("chars"),
          sum(col("c")).as("words"))
        .select(col("lang"), col("bpe_tokens"), col("words"),
          round(col("bpe_tokens") * 1000000.0 / col("chars")).cast("long")
            .as("tokens_per_mchar"))
        .orderBy("lang")
    })

  /** Substring-dedup DECISION (r15, VERDICT r14 "What's missing" #2 —
    * the Lee et al. exact-substring-dedup shape at the document level):
    * q70 MINES cross-doc duplicated 10-token spans as a top-20
    * diagnostic; this computes what a cleaning run actually consumes —
    * per document, the fraction of token positions covered by the UNION
    * of its cross-doc duplicated spans, a ≥[[SpanDropThreshold]] drop
    * verdict, and the chars such a drop saves (q161's accounting at
    * span granularity; measured on this corpus coverage is bimodal —
    * absent, or ≥0.9 on near-whole copies — so 0.5 cleanly separates).
    * Interval union is declarative: duplicated-span start positions per
    * doc, one lead() window bounded by DOC LENGTH (partition key is
    * doc_id — corpus-scale parallelism, never a global window), covered
    * = Σ min(10, next − i) with the last span contributing 10. Shuffle
    * keys are the 128-bit span-hash pair (q70's scale spelling — 16
    * bytes, not ~60-char strings; a cross-pair collision needs both
    * 64-bit hashes to agree, the q29/q55 whp argument), while the
    * oracle groups the span STRINGS — value-equal output. 100 TB: one
    * O(total tokens) span shuffle + a per-doc bounded window; the
    * doc-length join back is corpus-scale but carries three ints. */
  val SpanDropThreshold = 0.5
  val q164 = QueryDef(
    "q164_span_coverage", {
      Some(s"""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                       FROM documents),
            s AS (SELECT doc_id, i,
                         array_to_string(list_slice(t, i, i + 9), ' ') AS span
                  FROM tk, unnest(range(1, len(t) - 8)) AS u(i)
                  WHERE len(t) >= 10),
            dup AS (SELECT span FROM (SELECT span, doc_id FROM s GROUP BY 1, 2)
                    GROUP BY span HAVING COUNT(*) >= 2),
            pos AS (SELECT s.doc_id, s.i FROM s JOIN dup USING (span)),
            cov AS (SELECT doc_id,
                           SUM(LEAST(10, COALESCE(nxt - i, 10))) AS covered
                    FROM (SELECT doc_id, i, LEAD(i) OVER (PARTITION BY doc_id
                            ORDER BY i) AS nxt FROM pos)
                    GROUP BY doc_id)
            SELECT c.doc_id, CAST(len(tk.t) AS BIGINT) AS ntok,
                   CAST(c.covered AS BIGINT) AS covered,
                   CAST(ROUND(c.covered * 1.0 / len(tk.t), 4) AS DOUBLE)
                     AS coverage,
                   c.covered >= $SpanDropThreshold * len(tk.t) AS drop_doc,
                   CAST(CASE WHEN c.covered >= $SpanDropThreshold * len(tk.t)
                        THEN d.n_chars ELSE 0 END AS BIGINT) AS chars_saved
            FROM cov c JOIN tk USING (doc_id) JOIN documents d USING (doc_id)
            ORDER BY doc_id""")
    },
    (s, dir) => {
      import s.implicits._
      // one span pass serves dup-key mining AND the position join.
      // COMPILED span emission (r20 optimization round, guide §4 — the
      // winnowPairs precedent): the declarative spelling built every
      // 10-token span through an INTERPRETED transform lambda
      // (slice + array_join per position ≈ O(10·tokens) of per-eval
      // lambda dispatch); this typed flatMap runs the same O(10·tokens)
      // character work as one compiled loop. Span identity stays a
      // 128-bit two-hash key; the exact hash family is internal (the
      // oracle compares coverage built from span EQUALITY classes), so
      // xxhash64 seeds 42/43 over the UTF-8 bytes replace
      // (xxhash64(sp), xxhash64(reverse(sp))) — same whp guarantee.
      val spans = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val tk = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
          if (tk.length < 10) Iterator.empty
          else (1 to tk.length - 9).iterator.map { i =>
            val sb = new java.lang.StringBuilder()
            var j = i - 1
            while (j < i + 9) {
              if (j > i - 1) sb.append(' ')
              sb.append(tk(j)); j += 1
            }
            val b = sb.toString
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
            (id, i,
              org.apache.spark.sql.catalyst.expressions.XXH64
                .hashUnsafeBytes(b, off, b.length, 42L),
              org.apache.spark.sql.catalyst.expressions.XXH64
                .hashUnsafeBytes(b, off, b.length, 43L))
          }
        }
        .toDF("doc_id", "i", "h1", "h2")
        // lazy cut (r19 opt): dup-mining and the position join both sit
        // inside the one output action; persist-on-first-use keeps the
        // single span materialization without the barrier job
        .transform(graft.Cut.lazyCut)
      val dup = spans.select("h1", "h2", "doc_id").distinct()
        .groupBy("h1", "h2").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select("h1", "h2")
      val w = Window.partitionBy("doc_id").orderBy("i")
      val cov = spans.join(dup, Seq("h1", "h2"))
        .select(col("doc_id"), col("i"))
        .withColumn("nxt", lead("i", 1).over(w))
        .select(col("doc_id"),
          least(lit(10), coalesce(col("nxt") - col("i"), lit(10))).as("c"))
        .groupBy("doc_id").agg(sum("c").as("covered"))
      val lens = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("ntok"),
          col("n_chars"))
      cov.join(lens, "doc_id")
        .select(col("doc_id"), col("ntok"), col("covered"),
          round(col("covered") * 1.0 / col("ntok"), 4).as("coverage"),
          (col("covered") >= lit(SpanDropThreshold) * col("ntok"))
            .as("drop_doc"),
          when(col("covered") >= lit(SpanDropThreshold) * col("ntok"),
            col("n_chars")).otherwise(lit(0)).cast("long").as("chars_saved"))
        // lazy cut (r20 opt): the output sort's range sampler re-ran the
        // probe-side lens pass — a full corpus re-tokenization (no
        // shuffle between it and the sort) — per-doc persist, one run
        .transform(graft.Cut.lazyCut)
        .orderBy("doc_id")
    })

  /** k-NN GRAPH construction (r14) — the neighborhood structure graph
    * ANN indexes (HNSW/NSG) and SemDeDup-style pipelines are built
    * from, generalizing q149's top-1 to each vector's top-10 cosine
    * neighbors AMONG its banded candidates: the same [[graft.operators
    * .BandedAnn]] candidate stage (min-band-Hamming ≤ radius, K=64 cut
    * by (Hamming, id)), exact cosine over the ≤64 candidates, and a
    * per-anchor (sim DESC, id) top-10 taken by sorting the ≤64-element
    * collected struct list — bounded per-group state, never a window
    * over the pair stream. Hash-gated end to end: the oracle replays
    * the banded candidate rule and the re-rank order (q149's pattern);
    * negation of an IEEE double is exact, so the struct sort key
    * (-sim, ib) replays DuckDB's (sim DESC, ib). 100 TB: candidate
    * generation is the BandedAnn plan, re-rank cost is K·|V| cosines,
    * output is 10·|V| edges — each stage linear in the corpus. */
  /** The default graph corpus: every embedding, doubles. q187/q188
    * swap in the MAINTAINED corpus (retire/re-embed folded in — the
    * q185 corpusSql device) to gate the standing graph state. */
  private val GraphCorpusSql =
    "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"

  /** The SQL prologue shared by the graph family (q162/q182/q183,
    * q187/q188): nonzero corpus `e` over `corpus`, banded candidates,
    * and the RAW-sim top-10 edge CTE `ed` — raw because q182's pruning
    * rule compares unrounded cosines. */
  private def knnEdgesSql(corpus: String = GraphCorpusSql): String = {
    val bandHams = (0 until NnBands).map { b =>
      s"len(list_filter(range(${b * NnBandBits + 1}, ${(b + 1) * NnBandBits + 1}), i -> (a.v[i] >= 0) <> (b.v[i] >= 0)))"
    }
    s"""WITH e AS (SELECT vec_id, v FROM ($corpus)
                 WHERE list_sum(list_transform(v, x -> x * x)) > 0),
      h AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
              len(list_filter(range(1, 65),
                i -> (a.v[i] >= 0) <> (b.v[i] >= 0))) AS ham,
              LEAST(${bandHams.mkString(", ")}) AS mbh,
              list_cosine_similarity(a.v, b.v) AS sim
            FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      cand AS (SELECT ia, ib, sim, ROW_NUMBER() OVER
                 (PARTITION BY ia ORDER BY ham, ib) AS rn
               FROM h WHERE mbh <= $NnProbeRadius),
      ed AS MATERIALIZED (SELECT ia AS src, CAST(rr AS INTEGER) AS rank,
               ib AS dst, sim
             FROM (SELECT ia, ib, sim, ROW_NUMBER() OVER
                     (PARTITION BY ia ORDER BY sim DESC, ib) AS rr
                   FROM cand WHERE rn <= 64)
             WHERE rr <= 10)"""
  }

  /** q162's construction with RAW sims — shared by q162 (which rounds
    * at the edge) and q182 (whose pruning rule compares raw cosines). */
  private def knnEdgesRaw(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDoubleVec(col("embedding")).as("v"))
      .filter(VectorOps.sqNorm(col("v")) > 0d)
      .withColumn("sig", VectorOps.signBits64(col("v")))
      // LAZY cut (r19 optimization round): the 64-lambda INTERPRETED
      // signature HOF above was recomputed by every consumer — the
      // BandedAnn budget count, its collect, the probe side, and both
      // vector-fetch references — ~5 evaluations of the corpus prep per
      // query. Persist-on-first-use computes it once with no extra
      // barrier job.
      .transform(graft.Cut.lazyCut)
    val cand = graft.operators.BandedAnn.candidatesSelf(
      emb.select(col("vec_id"), col("sig")), "vec_id", "sig",
      bands = NnBands, bandBits = NnBandBits,
      radius = NnProbeRadius, k = 64)
    // re-rank vector fetch through the byte-budget device (q149's
    // posture — never an unconditional corpus-sized broadcast)
    graft.operators.VectorJoin.attachPair(
        cand, emb.select(col("vec_id"), col("v")), "vec_id", "v")
      .select(col("ia"),
        struct((-VectorOps.cosine(col("va"), col("vb"))).as("nsim"),
          col("ib")).as("p"))
      // ≤64 candidates per anchor: a sorted in-group list IS the
      // bounded top-10, no window over the candidate stream
      .groupBy("ia")
      .agg(slice(sort_array(collect_list(col("p"))), 1, 10).as("top"))
      .select(col("ia").as("src"), posexplode(col("top")))
      .select(col("src"), (col("pos") + 1).cast("int").as("rank"),
        col("col.ib").as("dst"), (-col("col.nsim")).as("sim"))
  }

  val q162 = QueryDef(
    "q162_knn_graph",
    Some(knnEdgesSql() + """
            SELECT src, rank, dst, ROUND(sim, 4) AS sim
            FROM ed ORDER BY src, rank"""),
    (s, dir) => knnEdgesRaw(s, dir)
      .select(col("src"), col("rank"), col("dst"),
        round(col("sim"), 4).as("sim"))
      .orderBy("src", "rank"))

  // --------------- q182 k-NN graph degree pruning (X54, r18)
  /** [[graft.operators.KnnPrune]] over the q162 graph — the HNSW-style
    * diversification an index build runs once q165's in-degree audit
    * flags hubness. The oracle replays the greedy kept-set fold as 10
    * unrolled per-rank MATERIALIZED CTEs (k1..k10): rank r's kept flag
    * is a NOT EXISTS over the kept prefix joined to the
    * neighbor-neighbor cosine CTE — every comparison is between raw
    * cosines both engines compute from the same double arrays, so the
    * strict `<` rule replays exactly (the q162/q149 precedent). Edges
    * with `kept = false` stay in the output: the hash then gates BOTH
    * directions — an edge wrongly pruned and an edge wrongly kept. */
  /** The greedy kept-set fold as 10 unrolled per-rank MATERIALIZED
    * CTEs — shared by q182/q183 (inline build) and q187/q188 (the
    * maintained graph, whose oracle recomputes the SAME prune over the
    * current corpus). */
  private def pruneCtesSql: String = {
    val ks = (2 to 10).map { r =>
      s""",
          k$r AS MATERIALIZED (SELECT * FROM k${r - 1} UNION ALL
            SELECT e2.src, e2.rank, e2.dst, e2.sim,
              NOT EXISTS (SELECT 1 FROM k${r - 1} p
                          JOIN nb ON nb.src = p.src AND nb.ra = p.rank
                            AND nb.rb = e2.rank
                          WHERE p.src = e2.src AND p.kept
                            AND nb.s >= e2.sim) AS kept
            FROM ed e2 WHERE e2.rank = $r)"""
    }.mkString
    s""",
          nb AS MATERIALIZED (SELECT x.src, x.rank AS ra, y.rank AS rb,
                  list_cosine_similarity(va.v, vb.v) AS s
                FROM ed x JOIN ed y ON x.src = y.src AND x.rank < y.rank
                JOIN e va ON va.vec_id = x.dst
                JOIN e vb ON vb.vec_id = y.dst),
          k1 AS MATERIALIZED (SELECT src, rank, dst, sim, TRUE AS kept
                              FROM ed WHERE rank = 1)$ks"""
  }

  private val PrunedEdgesSelectSql = """
            SELECT src, rank, dst, ROUND(sim, 4) AS sim, kept
            FROM k10 ORDER BY src, rank"""

  val q182 = QueryDef(
    "q182_knn_prune",
    Some(knnEdgesSql() + pruneCtesSql + PrunedEdgesSelectSql),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), VectorOps.toDoubleVec(col("embedding")).as("v"))
        .filter(VectorOps.sqNorm(col("v")) > 0d)
      graft.operators.KnnPrune.diversify(knnEdgesRaw(s, dir), emb,
          "vec_id", "v")
        .select(col("src"), col("rank"), col("dst"),
          round(col("sim"), 4).as("sim"), col("kept"))
        // lazy cut (r20 opt): the output sort's range sampler re-ran the
        // diversify merge chain (SMJ merge + broadcast probes + object
        // aggregates above the last exchange) — edge-scale persist, one
        // run (full rationale at verifyOnShingles)
        .transform(graft.Cut.lazyCut)
        .orderBy("src", "rank")
    })

  // --------------- q183 graph-navigated ANN search (X55, r18)
  private val GsBeam = 8 // beam width (HNSW's ef)
  private val GsHops = 4 // fixed hop budget — what makes the walk replayable
  /** The capstone of the graph family: build (q162) → prune (q182) →
    * SEARCH. A fixed-hop best-first beam walk over the PRUNED graph —
    * HNSW's layer-0 search with the data-dependent convergence loop
    * replaced by a fixed hop budget, which is what makes the walk
    * deterministic and oracle-replayable (each hop = one unrolled CTE:
    * expand the beam along kept edges, score against the query, keep
    * the top-[[GsBeam]] by (sim DESC, id)). Entry point: the lowest
    * corpus id (the next-lowest when the query IS that vertex) — the
    * spelling both engines derive from the data. The output carries an
    * `in_exact` flag per result — whether the walk's hit is in the true
    * exact top-5 — computed by RANK-BY-COUNTING (for each of the ≤20
    * results, count corpus vectors strictly closer to the query): one
    * map pass over corpus × 4 queries, 20 count groups with map-side
    * combine — no corpus-sized window partition and no corpus-sized
    * collect anywhere, which is the 100 TB posture for a recall audit.
    * So the hash gates navigability itself: a broken prune, a wrong
    * edge, or a beam tie broken differently changes what the walk finds
    * AND how it scores against exact truth. */
  /** q183's walk + recall-audit CTEs over the prune chain — shared
    * with q188, whose oracle replays the SAME walk over the maintained
    * corpus. Requires `e` and the k10 prune CTEs in scope. */
  private def beamWalkSql: String = {
    val hops = (1 to GsHops).map { h =>
      s""",
          x$h AS MATERIALIZED (SELECT DISTINCT qid, vec_id FROM (
            SELECT qid, vec_id FROM b${h - 1}
            UNION ALL
            SELECT b.qid, k.dst AS vec_id
            FROM b${h - 1} b JOIN ke k ON k.src = b.vec_id)),
          s$h AS MATERIALIZED (SELECT x.qid, x.vec_id,
              list_cosine_similarity(e.v, q.qv) AS sim,
              ROW_NUMBER() OVER (PARTITION BY x.qid
                ORDER BY list_cosine_similarity(e.v, q.qv) DESC, x.vec_id)
                AS rn
            FROM x$h x JOIN e ON e.vec_id = x.vec_id
            JOIN q ON q.qid = x.qid WHERE x.vec_id <> x.qid),
          b$h AS MATERIALIZED (SELECT qid, vec_id FROM s$h
                               WHERE rn <= $GsBeam)"""
    }.mkString
    s""",
          ke AS MATERIALIZED (SELECT src, dst FROM k10 WHERE kept),
          q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
          m1 AS (SELECT MIN(vec_id) AS i FROM e),
          m2 AS (SELECT MIN(vec_id) AS i FROM e
                 WHERE vec_id <> (SELECT i FROM m1)),
          b0 AS (SELECT qid, CASE WHEN qid = (SELECT i FROM m1)
                   THEN (SELECT i FROM m2) ELSE (SELECT i FROM m1) END
                   AS vec_id FROM q)$hops,
          fin AS (SELECT qid, rn, vec_id, sim FROM s$GsHops WHERE rn <= 5),
          exd AS (SELECT q.qid, e.vec_id AS w,
                    list_cosine_similarity(e.v, q.qv) AS s
                  FROM q, e WHERE e.vec_id <> q.qid),
          bet AS (SELECT f.qid, f.vec_id, COUNT(*) AS nb
                  FROM fin f JOIN exd d ON d.qid = f.qid
                    AND (d.s > f.sim OR (d.s = f.sim AND d.w < f.vec_id))
                  GROUP BY 1, 2)
          SELECT f.qid AS qid, CAST(f.rn AS INTEGER) AS rank,
                 f.vec_id AS vec_id, ROUND(f.sim, 4) AS sim,
                 COALESCE(b.nb, 0) < 5 AS in_exact
          FROM fin f LEFT JOIN bet b
            ON b.qid = f.qid AND b.vec_id = f.vec_id
          ORDER BY f.qid, rank"""
  }

  val q183 = QueryDef(
    "q183_graph_search",
    Some(knnEdgesSql() + pruneCtesSql + beamWalkSql),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), VectorOps.toDoubleVec(col("embedding")).as("v"))
        .filter(VectorOps.sqNorm(col("v")) > 0d)
        // lazy cuts (r19 optimization round): persisted on first use,
        // reused by queries + per-hop scoring + recall audit / per-hop
        // walks — without the two up-front barrier jobs
        .transform(graft.Cut.lazyCut)
      val kept = graft.operators.KnnPrune
        .diversify(knnEdgesRaw(s, dir), emb, "vec_id", "v")
        .filter(col("kept")).select(col("src"), col("dst"))
        .transform(graft.Cut.lazyCut)
      graft.operators.GraphIndex.beamSearch(emb, kept,
        emb.filter(col("vec_id") < 4)
          .select(col("vec_id").as("qid"), col("v").as("qv")),
        GsBeam, GsHops)
    })

  /** k-NN graph HEALTH diagnostics (r15, VERDICT r14 next-step #7) —
    * the checks an ANN index build runs over its neighborhood graph
    * before trusting it: the IN-DEGREE distribution (hubness — a few
    * vectors absorbing everyone's neighbor lists is the classic
    * high-dim failure that tanks recall), the MUTUAL-edge count (graph
    * symmetry — HNSW-style builds prune asymmetric edges), and the
    * isolated-source count (anchors nobody points back to). One long-
    * format (metric, k, v) table over q162's 10·|V| edge output: a
    * dst-keyed count, a count-of-counts, one edge self-equi-join for
    * mutuality and an anti-join for isolation — every stage linear in
    * the edge list, shuffle keys are single longs. The oracle replays
    * q162's candidate CTE into the same aggregates, so the hash covers
    * the whole composition. Production posture: like q161/q64, a real
    * pipeline materializes the q162 edge table once and this is a
    * downstream read; the inline re-run keeps the registry query
    * self-contained (the edge list is checkpointed so the four
    * consumers scan it once). */
  val q165 = QueryDef(
    "q165_knn_graph_health", {
      val bandHams = (0 until NnBands).map { b =>
        s"len(list_filter(range(${b * NnBandBits + 1}, ${(b + 1) * NnBandBits + 1}), i -> (a.v[i] >= 0) <> (b.v[i] >= 0)))"
      }
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings
                       WHERE list_sum(list_transform(embedding::DOUBLE[],
                               x -> x * x)) > 0),
            h AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                    len(list_filter(range(1, 65),
                      i -> (a.v[i] >= 0) <> (b.v[i] >= 0))) AS ham,
                    LEAST(${bandHams.mkString(", ")}) AS mbh,
                    list_cosine_similarity(a.v, b.v) AS sim
                  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
            cand AS (SELECT ia, ib, sim, ROW_NUMBER() OVER
                       (PARTITION BY ia ORDER BY ham, ib) AS rn
                     FROM h WHERE mbh <= $NnProbeRadius),
            edges AS (SELECT ia AS src, ib AS dst
                      FROM (SELECT ia, ib, ROW_NUMBER() OVER
                              (PARTITION BY ia ORDER BY sim DESC, ib) AS rr
                            FROM cand WHERE rn <= 64)
                      WHERE rr <= 10),
            indeg AS (SELECT dst, COUNT(*) AS d FROM edges GROUP BY dst)
            SELECT 'in_degree' AS metric, CAST(d AS BIGINT) AS k,
                   CAST(COUNT(*) AS BIGINT) AS v FROM indeg GROUP BY d
            UNION ALL
            SELECT 'edges', 0, CAST(COUNT(*) AS BIGINT) FROM edges
            UNION ALL
            SELECT 'mutual_pairs', 0, CAST(COUNT(*) AS BIGINT)
            FROM edges a JOIN edges b
              ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst
            UNION ALL
            SELECT 'isolated_sources', 0, CAST(COUNT(*) AS BIGINT)
            FROM (SELECT DISTINCT src FROM edges)
            WHERE src NOT IN (SELECT dst FROM edges)
            ORDER BY metric, k""")
    },
    (s, dir) => {
      // knnEdgesRaw directly (r19 opt): the q162.run spelling paid
      // q162's output ORDER BY (a global sort) and the display rounding
      // before immediately aggregating — dead work for a health scan
      // that only consumes the (src, dst) edge set
      val edges = knnEdgesRaw(s, dir).select(col("src"), col("dst"))
        .localCheckpoint(true) // four consumers, one edge materialization
      val indeg = edges.groupBy("dst").agg(count(lit(1)).as("d"))
      val hist = indeg.groupBy("d").agg(count(lit(1)).as("v"))
        .select(lit("in_degree").as("metric"), col("d").as("k"), col("v"))
      val tot = edges.agg(count(lit(1)).as("v"))
        .select(lit("edges").as("metric"), lit(0L).as("k"), col("v"))
      val mut = edges.as("a").join(edges.as("b"),
          col("a.src") === col("b.dst") && col("a.dst") === col("b.src") &&
            col("a.src") < col("a.dst"))
        .agg(count(lit(1)).as("v"))
        .select(lit("mutual_pairs").as("metric"), lit(0L).as("k"), col("v"))
      val iso = edges.select("src").distinct()
        .join(edges.select(col("dst").as("src")).distinct(),
          Seq("src"), "left_anti")
        .agg(count(lit(1)).as("v"))
        .select(lit("isolated_sources").as("metric"), lit(0L).as("k"),
          col("v"))
      hist.union(tot).union(mut).union(iso).orderBy("metric", "k")
    })

  /** Within-doc REPETITION signals (r15) — the Gopher/MassiveText
    * quality-filter family q39 does NOT cover (q39 scores length/punct/
    * stopword shape; this measures degenerate repetition, the failure
    * mode of scraped boilerplate and LM-generated spam): per document,
    * the top-unigram mass fraction and the duplicated 2-/3-gram
    * fractions, plus a corpus-calibrated repetitive verdict (top1 >
    * [[RepTop1Thresh]] OR dup2 > [[RepDup2Thresh]] — measured: medians
    * 0.093/0.028, the thresholds flag the ~9% tail). Plan shape: the
    * n-gram fractions are PURE NARROW projections (higher-order
    * transform/array_distinct per row — zero shuffle); only the
    * top-unigram needs a (doc, token) aggregate, map-side combinable.
    * The n-gram guard matters: Spark's sequence(1, n) DESCENDS when
    * n < 1, so short docs take an explicit empty-array branch where
    * DuckDB's range() is naturally empty. 100 TB: one token-stream
    * shuffle + per-row array work, output one row per doc. */
  val RepTop1Thresh = 0.15
  val RepDup2Thresh = 0.1
  val q166 = QueryDef(
    "q166_repetition_signals", {
      Some(s"""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                       FROM documents),
            uni AS (SELECT doc_id, MAX(c) AS topc, SUM(c) AS ntok FROM (
                      SELECT doc_id, w, COUNT(*) AS c
                      FROM (SELECT doc_id, unnest(t) AS w FROM tk)
                      GROUP BY doc_id, w) GROUP BY doc_id),
            ng AS (SELECT doc_id,
                     list_transform(range(1, len(t)),
                       i -> t[i] || ' ' || t[i+1]) AS g2,
                     list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
                   FROM tk),
            fr AS (SELECT u.doc_id, u.ntok,
                     u.topc * 1.0 / u.ntok AS top1,
                     CASE WHEN len(g2) > 0
                          THEN 1 - len(list_distinct(g2)) * 1.0 / len(g2)
                          ELSE 0.0 END AS d2,
                     CASE WHEN len(g3) > 0
                          THEN 1 - len(list_distinct(g3)) * 1.0 / len(g3)
                          ELSE 0.0 END AS d3
                   FROM uni u JOIN ng USING (doc_id))
            SELECT doc_id, CAST(ntok AS BIGINT) AS ntok,
                   CAST(ROUND(top1, 4) AS DOUBLE) AS top1_frac,
                   CAST(ROUND(d2, 4) AS DOUBLE) AS dup2_frac,
                   CAST(ROUND(d3, 4) AS DOUBLE) AS dup3_frac,
                   top1 > $RepTop1Thresh OR d2 > $RepDup2Thresh AS repetitive
            FROM fr ORDER BY doc_id""")
    },
    (s, dir) => {
      import s.implicits._
      // ONE compiled doc-local pass (r20 optimization round — the q69
      // rewrite's twin, TextOps.repCounters): topc/ntok came from a
      // corpus explode + two aggregates + a join, the gram distincts
      // from interpreted transform lambdas; every number is
      // per-document.
      val stats = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val tk = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
          val (total, _, topc, n2, u2, n3, u3) = TextOps.repCounters(tk)
          (id, total, topc, n2, u2, n3, u3)
        }
        .toDF("doc_id", "ntok", "topc", "n2", "u2", "n3", "u3")
      stats
        .select(col("doc_id"), col("ntok"),
          (col("topc") * 1.0 / col("ntok")).as("top1"),
          when(col("n2") > 0,
            lit(1) - col("u2") * 1.0 / col("n2"))
            .otherwise(lit(0.0)).as("d2"),
          when(col("n3") > 0,
            lit(1) - col("u3") * 1.0 / col("n3"))
            .otherwise(lit(0.0)).as("d3"))
        .select(col("doc_id"), col("ntok"),
          round(col("top1"), 4).as("top1_frac"),
          round(col("d2"), 4).as("dup2_frac"),
          round(col("d3"), 4).as("dup3_frac"),
          (col("top1") > RepTop1Thresh || col("d2") > RepDup2Thresh)
            .as("repetitive"))
        // lazy cut (r20 opt): the output sort's range sampler re-ran the
        // compiled repCounters corpus pass (row-local map, no shuffle
        // below the sort) — per-doc persist, one run (full rationale at
        // verifyOnShingles)
        .transform(graft.Cut.lazyCut)
        .orderBy("doc_id")
    })

  // --------------------- q167 incremental near-dup vs STORED lake state
  /** The nightly-ingest shape (VERDICT r15 missing #1): every other
    * dedup query is a batch SELF-join that re-shingles the whole corpus
    * per run, but the operational 100 TB form is "dedup tonight's
    * ingest against the standing corpus". Documents are split by a
    * deterministic id predicate into the STANDING corpus (~80%) and the
    * NEW batch (~20%); the standing corpus's shingle sets, rare-first
    * prefix postings, and df head are materialized ONCE as lake tables
    * (the [[incrState]] fixture — in production a nightly-maintained
    * index), and the per-run cost is O(batch): shingle ONLY the batch,
    * index its prefixes under the STORED head order, equi-join batch
    * postings against stored postings (new × stored) plus a batch-only
    * bucket group (new × new), and verify exactly against shingles
    * fetched from the lake for the stored side. Losslessness carries
    * over unchanged: the pigeonhole cover needs only order CONSISTENCY
    * across the two docs of a pair, and both sides' prefixes are sorted
    * by the same stored (df-or-0, hash) total order — classes unseen by
    * the standing corpus simply fall into the df≈0 tail of that order
    * (see [[graft.operators.PrefixIndex.postings]]). The oracle brute-forces the union with
    * pairs restricted to (new × all). SCALING.md has the cost
    * argument; IncrDedupSpec pins cross-batch and within-batch planted
    * pairs plus the restriction (no stored × stored output). */
  private[queries] val IncrNewPred = "doc_id % 10 >= 8"
  private val incrStates =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (graft.lake.LakeTable, graft.lake.LakeTable, graft.lake.LakeTable)]()

  /** Standing-corpus index build — once per (session, sfDir), the
    * analogue of the nightly-maintained state; queries read the result
    * through the lake layer only. */
  private def incrState(s: SparkSession, dir: String):
      (graft.lake.LakeTable, graft.lake.LakeTable, graft.lake.LakeTable) =
    incrStates.computeIfAbsent((s, dir), { _ =>
      import org.apache.spark.sql.types._
      import s.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-incr-wh")
      val cat = new graft.lake.LakeCatalog(s, wh)
      cat.createNamespace("dedup")
      val stored = t(s, dir, "documents")
        .filter(!expr(IncrNewPred)).select("doc_id", "text")
      val storedSh = shingledDocs(s, stored)
      val hashed = PrefixIndex.hashed(storedSh)
      val head = PrefixIndex.dfHead(hashed)
      val shT = cat.createTable("dedup", "shingles", StructType(Seq(
          StructField("doc_id", LongType),
          StructField("sh", ArrayType(StringType)))))
        .append(storedSh)
      val postT = cat.createTable("dedup", "postings", StructType(Seq(
          StructField("h", LongType), StructField("doc_id", LongType),
          StructField("k", IntegerType), StructField("pos", IntegerType))))
        .append(PrefixIndex.postings(hashed, head))
      val headT = cat.createTable("dedup", "dfhead", StructType(Seq(
          StructField("h", LongType), StructField("df", LongType))))
        .append(head.toSeq.toDF("h", "df"))
      (shT, postT, headT)
    })

  /** THE incremental near-dup run, factored once (r17) so q167 (pristine
    * state), q176 (maintained state) and MaintenanceFuzzSpec share one
    * spelling: shingle ONLY the batch, index its prefixes under the
    * STORED head order, batch postings × stored postings (new × stored)
    * plus the batch-only bucket group (new × new), exact verify against
    * stored shingles ∪ batch shingles with the corpus pre-gate OFF
    * (O(batch) — a per-run corpus aggregate would break the bill). */
  private[graft] def incrementalNearDup(
      s: SparkSession,
      storedSh: DataFrame,
      storedPost: DataFrame,
      head: Map[Long, Long],
      newDocs: DataFrame): DataFrame = {
    val newSh = shingledDocs(s, newDocs)
    val newPost = PrefixIndex.postings(PrefixIndex.hashed(newSh), head)
      .transform(graft.Cut.lazyCut) // lazy cut (r19 opt): cross equi-join +
      // self both materialize inside the candidate action
    val cross = newPost.as("n")
      .join(storedPost.as("o"), col("n.h") === col("o.h"))
      .filter(expr(PrefixIndex.pairFilter("n.k", "n.pos", "o.k", "o.pos")))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
    val cand = cross.union(PrefixIndex.postingsPairs(newPost,
        dedup = false)).distinct()
      .transform(graft.Cut.lazyCut) // lazy: the verify id-count action
      // materializes it; the pair join reads the persisted blocks
    verifyOnShingles(s, storedSh.unionByName(newSh), cand,
      corpusPreGate = false)
  }

  val q167 = QueryDef(
    "q167_incremental_neardup",
    Some(DuckShingles +
      """, p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(a.sh || b.sh)) AS jac
               FROM s a JOIN s b ON a.doc_id < b.doc_id
               WHERE a.doc_id % 10 >= 8 OR b.doc_id % 10 >= 8)
       SELECT doc_a, doc_b, ROUND(jac, 4) AS jac FROM p
       WHERE NOT isnan(jac) AND jac >= 0.8 ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      val (shT, postT, headT) = incrState(s, dir)
      import s.implicits._
      // the stored head is STATE read back from the lake — a driver
      // pull bounded at DfHeadMax rows by construction (same budget
      // note as PrefixIndex.dfHead); stored shingles are fetched
      // THROUGH the lake table inside the shared run
      val head = headT.read().as[(Long, Long)].collect().toMap
      incrementalNearDup(s, shT.read(), postT.read(), head,
        t(s, dir, "documents").filter(expr(IncrNewPred))
          .select("doc_id", "text"))
    })

  // ------ q176 incremental near-dup AFTER standing-state maintenance
  /** The week-one operational arc on top of q167 (VERDICT r16 missing
    * #1): the standing corpus CHANGES — takedowns/retention DELETE docs,
    * re-crawls UPDATE them — and the derived index state must follow,
    * or the next nightly run pairs arrivals against content the corpus
    * no longer holds. Fixture: provision the full standing state (docs
    * + shingles + postings + dfhead, all merge-on-read), then run
    * [[graft.operators.IndexMaintenance]] — RETIRE stored docs with
    * doc_id % 7 = 3 (equality deletes), RECRAWL stored docs with
    * doc_id % 7 = 5 to text·' '·text (replaceByKey: retire + rebuilt
    * shingle/posting rows under the STORED head order, one commit per
    * table). The query is then q167's O(batch) pipeline verbatim over
    * the MAINTAINED tables; the oracle brute-forces the CURRENT corpus
    * (retired docs gone, recrawled text transformed), so the hash
    * covers maintenance end to end: a stale posting row, a lingering
    * shingle set, or a missing rebuilt one all change the output. */
  private val recrawlStates =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      graft.lake.LakeCatalog]()

  private val RetirePred = "doc_id % 7 = 3"
  private val RecrawlPred = "doc_id % 7 = 5"

  private def recrawlState(s: SparkSession, dir: String): graft.lake.LakeCatalog =
    recrawlStates.computeIfAbsent((s, dir), { _ => buildRecrawledState(s, dir) })

  /** One maintained standing state (shared fixture steps of q176 and
    * q181 — each keeps its OWN warehouse so the q181 head rebuild can
    * never make q176 order-dependent). */
  private def buildRecrawledState(s: SparkSession, dir: String): graft.lake.LakeCatalog = {
      import org.apache.spark.sql.types._
      val wh = java.nio.file.Files.createTempDirectory("graft-recrawl-wh")
      val cat = new graft.lake.LakeCatalog(s, wh)
      cat.createNamespace("nd")
      val stored = t(s, dir, "documents")
        .filter(!expr(IncrNewPred))
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      graft.operators.StandingState.provisionNearDupState(cat, "nd",
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))), stored)
      graft.operators.IndexMaintenance.retireDocs(cat, "nd",
        stored.filter(expr(RetirePred)).select("doc_id"))
      graft.operators.IndexMaintenance.recrawlDocs(cat, "nd",
        stored.filter(expr(RecrawlPred)).select(col("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")))
      // the maintenance window ends with compaction (M2/M41 composed,
      // VERDICT r16 #1/#5): folds the equality deletes into clean data
      // files so every later read drops the anti-join and the
      // per-commit file sets — and since the arc is hash-gated, the
      // registry now also gates compaction OUTCOME-NEUTRALITY on a
      // maintained table (measured: ~1.3× read-side premium of live
      // deletes reclaimed at sf0.1)
      Seq("shingles", "postings").foreach { tn =>
        graft.lake.Procedures.rewriteDataFiles(
          cat.loadTable("nd", tn).get, Map("rewrite-all" -> "true"))
      }
      cat
  }

  val q176 = QueryDef(
    "q176_maintained_neardup",
    Some(s"""WITH cur AS (SELECT doc_id,
               CASE WHEN doc_id % 10 < 8 AND $RecrawlPred
                    THEN text || ' ' || text ELSE text END AS text
             FROM documents
             WHERE NOT (doc_id % 10 < 8 AND $RetirePred)),
        t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM cur),
        s AS (SELECT doc_id,
               CASE WHEN len(tk) >= 3
                 THEN list_distinct(list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                 ELSE []::VARCHAR[] END AS sh
             FROM t),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(a.sh || b.sh)) AS jac
               FROM s a JOIN s b ON a.doc_id < b.doc_id
               WHERE a.doc_id % 10 >= 8 OR b.doc_id % 10 >= 8)
       SELECT doc_a, doc_b, ROUND(jac, 4) AS jac FROM p
       WHERE NOT isnan(jac) AND jac >= 0.8 ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      val cat = recrawlState(s, dir)
      incrementalNearDup(s,
        cat.loadTable("nd", "shingles").get.read(),
        cat.loadTable("nd", "postings").get.read(),
        graft.operators.StandingState.loadHead(s, cat, "nd"),
        t(s, dir, "documents").filter(expr(IncrNewPred))
          .select("doc_id", "text"))
    })

  // ------ q181 incremental near-dup AFTER a df-head REBUILD (X53, r18)
  /** q180's arc on the prefix-index side: the same maintained standing
    * state as q176, then [[graft.operators.IndexRebuild.rebuildDfHead]]
    * — the df head is RECOMPUTED on the current (post-maintenance)
    * shingle corpus and every standing posting row is re-keyed under
    * the new order through the three-commit lossless-superset swap
    * (RebuildSpec carries the planted proof that skipping the re-key
    * MISSES pairs). The query then runs the O(batch) incremental
    * pipeline under the REBUILT head and postings read back from the
    * lake; the oracle brute-forces the current corpus, so the hash
    * gates the whole composition: maintenance, rebuild, and the run —
    * a lost posting row, a doc keyed under the wrong order, or a stale
    * head all shift candidate coverage and (on a corpus at this dup
    * density) the verified pair set. Own warehouse: q176's fixture
    * stays pre-rebuild. */
  private val headRebuildStates =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      graft.lake.LakeCatalog]()

  private def headRebuildState(s: SparkSession, dir: String): graft.lake.LakeCatalog =
    headRebuildStates.computeIfAbsent((s, dir), { _ =>
      val cat = buildRecrawledState(s, dir)
      graft.operators.IndexRebuild.rebuildDfHead(cat, "nd")
      cat
    })

  val q181 = QueryDef(
    "q181_rebuilt_head_neardup",
    q176.oracle, // same brute force over the CURRENT corpus: the
                    // survivor pair set is head-invariant BECAUSE the
                    // rebuild keeps order consistency — that invariance
                    // is exactly what the hash checks
    (s, dir) => {
      val cat = headRebuildState(s, dir)
      import s.implicits._
      val head = cat.loadTable("nd", "dfhead").get.read()
        .as[(Long, Long)].collect().toMap
      incrementalNearDup(s,
        cat.loadTable("nd", "shingles").get.read(),
        cat.loadTable("nd", "postings").get.read(),
        head,
        t(s, dir, "documents").filter(expr(IncrNewPred))
          .select("doc_id", "text"))
    })

  /** Canonical-representative selection per near-dup cluster (r14) —
    * the DECISION step every dedup pipeline runs after clustering
    * (q64): from each connected component keep the argmax-quality
    * member (here longest text, the C4/RefinedWeb default proxy, total
    * (n_chars DESC, doc_id ASC) order) and account what the drop saves.
    * Composes registered devices end to end: q64's verified pair graph
    * + large-star/small-star components feed a per-cluster argmax
    * (max-of-struct — one dimension-scale shuffle at cluster count),
    * and the oracle replays the SAME recursive-CTE component labels
    * (shared [[CcOracleCtes]]) so the hash covers the whole composition.
    * 100 TB: clusters are orders below corpus scale (only verified
    * near-dup members appear); the argmax carries two longs per member. */
  val q161 = QueryDef(
    "q161_dedup_keep",
    Some(CcOracleCtes +
      """ SELECT cluster, keep_id, members, chars_total, chars_dropped
          FROM (SELECT cluster,
                  CAST(COUNT(*) AS BIGINT) AS members,
                  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
                  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
                  CAST(SUM(n_chars) - MAX(n_chars) AS BIGINT) AS chars_dropped,
                  CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
                    AS keep_id
                FROM (SELECT c.cluster, c.doc_id, d.n_chars,
                        ROW_NUMBER() OVER (PARTITION BY c.cluster
                          ORDER BY d.n_chars DESC, c.doc_id) AS rn
                      FROM ccl c JOIN documents d USING (doc_id))
                GROUP BY cluster)
          ORDER BY cluster"""),
    (s, dir) =>
      // Production posture (VERDICT r14 wrong #3): a real pipeline
      // MATERIALIZES the cluster table once (q64 → a lake table) and
      // this decision step is a downstream read of it (q168 registers
      // exactly that arc); re-running the whole q64 pipeline inline
      // here is inherent to a self-contained registry query, not the
      // 100 TB shape. Labels come from the UNSORTED core (r20 opt):
      // keepDecision aggregates by cluster, so q64's output ORDER BY
      // was dead work here.
      keepDecision(dedupClusterLabels(s, dir), t(s, dir, "documents")))

  /** The q161 decision over a (doc_id, cluster) table — shared by the
    * self-contained q161 and the materialized-arc q168, so the two
    * spellings are provably the same aggregate. */
  private def keepDecision(cc: DataFrame, docs: DataFrame): DataFrame =
    cc.join(docs.select("doc_id", "n_chars"), "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("members"),
        sum("n_chars").as("chars_total"),
        // (n_chars DESC, doc_id ASC) argmax — negate the id inside the
        // struct max so ties keep the smallest id, the q148 device
        max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster"), (-col("m.nid")).as("keep_id"),
        col("members"), col("chars_total"),
        (col("chars_total") - col("m.n_chars")).as("chars_dropped"))
      .orderBy("cluster")

  // ------------------ q168 the materialized dedup arc (q64 → lake → q161)
  /** VERDICT r15 next-step #7: the composition posture SCALING.md states
    * as a contract, made executable — q64's verified cluster table is
    * CREATED as a governed lake table once (per session+sfDir, the
    * arc's storage substrate), and the q161 decision runs as a
    * DOWNSTREAM READ of that table with no inline upstream re-run. The
    * oracle is q161's verbatim: the arc must land byte-identical to the
    * self-contained spelling. */
  private val arcStates =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      graft.lake.LakeTable]()

  private def clusterTable(s: SparkSession, dir: String): graft.lake.LakeTable =
    arcStates.computeIfAbsent((s, dir), { _ =>
      import org.apache.spark.sql.types._
      val wh = java.nio.file.Files.createTempDirectory("graft-arc-wh")
      val cat = new graft.lake.LakeCatalog(s, wh)
      cat.createNamespace("dedup")
      cat.createTable("dedup", "clusters", StructType(Seq(
          StructField("doc_id", LongType), StructField("cluster", LongType))))
        // unsorted core (r20 opt): table content is a SET — the stored
        // row order is not part of the arc's contract, so q64's output
        // sort was dead work in the provisioning step too
        .append(dedupClusterLabels(s, dir))
    })

  val q168 = QueryDef(
    "q168_dedup_arc",
    q161.oracle,
    (s, dir) =>
      keepDecision(clusterTable(s, dir).read(), t(s, dir, "documents")))

  // ------------------- q169/q170 hash-gated k-means codebook (X45, r16)
  /** Unrolled DuckDB k-means rounds — the q156/q163 BPE-trainer oracle
    * pattern on the vector side: both engines LEARN the codebook
    * independently (seed = the K lowest vec_ids, cosine assignment with
    * (sim DESC, cid) tie order, hash-exact decimal mean, empty buckets
    * keep their previous centroid via the COALESCE) and the hash
    * compares what was learned. Exactness argument lives on
    * [[graft.operators.KMeansTrainer]]: decimal casts and round(·,9) of
    * binary doubles have no ties, so every round's centroids are
    * bit-identical across engines and the assignment comparisons see
    * the same doubles. `c${iters}v` is the learned codebook CTE the
    * callers extend. */
  /** `basePred` restricts the TRAINING corpus (q174 trains on the
    * standing slice only); seeds are the k lowest training vec_ids,
    * dense-ranked into bucket ids 0..k−1 — on the full contiguous-id
    * corpus (q169/q170, basePred = TRUE) that is exactly the old
    * `vec_id < k` spelling. `treSql` (r18, q180) overrides the training
    * CTE body entirely — the rebuild arc trains on a MAINTAINED corpus
    * whose vectors are transformed, not merely filtered; seeds join
    * `tre`, not `e`, so transformed seed vectors are honored (identical
    * for every filter-only caller). */
  private def kmeansRoundsSql(k: Int, iters: Int, dim: Int,
      basePred: String = "TRUE", treSql: Option[String] = None): String = {
    val treBody = treSql.getOrElse(s"SELECT vec_id, v FROM e WHERE $basePred")
    val sb = new StringBuilder(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          tre AS MATERIALIZED ($treBody),
          sd AS MATERIALIZED (SELECT vec_id,
              row_number() OVER (ORDER BY vec_id) - 1 AS cid
            FROM (SELECT vec_id FROM tre ORDER BY vec_id LIMIT $k)),
          c0 AS (SELECT sd.cid, r.i, tre.v[r.i] AS m
                 FROM sd JOIN tre USING (vec_id), range(1, ${dim + 1}) r(i)),
          c0v AS (SELECT cid, list(m ORDER BY i) AS cv FROM c0 GROUP BY cid)""")
    for (r <- 1 to iters) sb ++= s""",
          a$r AS (SELECT vec_id, cid FROM (
            SELECT tre.vec_id, c.cid, row_number() OVER (PARTITION BY tre.vec_id
              ORDER BY list_cosine_similarity(tre.v, c.cv) DESC, c.cid) AS rn
            FROM tre, c${r - 1}v c) WHERE rn = 1),
          m$r AS (SELECT cid, i,
                    ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE)
                      / COUNT(*), 9) AS m
                  FROM a$r JOIN tre USING (vec_id), range(1, ${dim + 1}) r(i)
                  GROUP BY cid, i),
          c$r AS (SELECT p.cid, p.i, COALESCE(n.m, p.m) AS m
                  FROM c${r - 1} p
                  LEFT JOIN m$r n ON p.cid = n.cid AND p.i = n.i),
          c${r}v AS (SELECT cid, list(m ORDER BY i) AS cv FROM c$r GROUP BY cid)"""
    sb.toString
  }

  private val KmIters = 2
  private val EmbDim = 64

  /** TRAIN → SEARCH arc (X45 gated end to end — the vector-side q163):
    * learn the production IVF codebook (K = [[IvfK]], [[KmIters]] Lloyd
    * rounds, hash-exact means), then run the FULL q47 search pipeline
    * under the LEARNED centroids for a 4-query batch — nearest-centroid
    * corpus assignment, nProbe probing, exact re-rank. No pinned
    * constants anywhere: the oracle relearns the codebook through
    * unrolled CTE rounds and replays the search against its own learned
    * table, so the hash compares the whole train→use arc. This is what
    * upgrades q47's `trained = true` production path from spec-gated to
    * oracle-gated. */
  val q169 = QueryDef(
    "q169_kmeans_ivf_arc",
    Some(kmeansRoundsSql(IvfK, KmIters, EmbDim) + s""",
        casg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c${KmIters}v c) WHERE rn = 1),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
        qasg AS (SELECT qid, cid AS bucket FROM (
          SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
            ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
          FROM q, c${KmIters}v c) WHERE rn <= $IvfProbes),
        cand AS (SELECT DISTINCT qid, vec_id
                 FROM casg JOIN qasg USING (bucket) WHERE vec_id <> qid),
        scored AS (SELECT cand.qid AS qid, cand.vec_id AS vec_id,
                          list_cosine_similarity(e.v, q.qv) AS sim_raw
                   FROM cand JOIN e USING (vec_id) JOIN q USING (qid)),
        ranked AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
                     PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rn
                   FROM scored)
        SELECT qid, vec_id, ROUND(sim_raw, 4) AS sim
        FROM ranked WHERE rn <= 5 ORDER BY qid, sim DESC, vec_id"""),
    (s, dir) => ivfTopK(s, dir, col("vec_id") < 4, 5)
      .orderBy(col("qid"), col("sim").desc, col("vec_id")))

  /** Codebook OCCUPANCY/QUALITY audit under the learned centroids — the
    * balance check an IVF build runs before committing a codebook (a
    * skewed bucket histogram is what breaks the nProbe/K candidate-
    * volume promise at 100 TB): per-bucket member count and mean
    * cosine-to-own-centroid, both through the hash-exact decimal-sum
    * device so the aggregate is order-independent on both engines. */
  val q170 = QueryDef(
    "q170_codebook_quality",
    Some(kmeansRoundsSql(IvfK, KmIters, EmbDim) + s""",
        casg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c${KmIters}v c) WHERE rn = 1)
        SELECT bucket, COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(list_cosine_similarity(e.v, c.cv)
                      AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 4) AS avg_sim
        FROM casg JOIN e USING (vec_id)
        JOIN c${KmIters}v c ON casg.bucket = c.cid
        GROUP BY bucket ORDER BY bucket"""),
    (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .select(col("vec_id"), col("v"))
      val cents = trainedCodebook(s, dir, e)
      val centDf = broadcast(
        cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
          .toDF("bucket", "cv"))
      ivfAssignCompiled(s, e, "vec_id", "v", cents, 1)
        .select(col("vec_id"), col("bucket").cast("long").as("bucket"))
        .join(e, "vec_id")
        .join(centDf, "bucket")
        .select(col("bucket"), VectorOps.cosine(col("v"), col("cv")).as("sim_raw"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(sum(col("sim_raw").cast("decimal(28,12)")).cast("double")
            / count(lit(1)), 4).as("avg_sim"))
        .orderBy("bucket")
    })

  // ------------- q174 incremental IVF index maintenance (X45/M34, r16)
  /** The batch slice of the vector corpus — q167's device on the vector
    * side: ids with `vec_id % 10 >= 8` are "tonight's embeddings". */
  private val VecNewPred = "vec_id % 10 >= 8"

  /** Standing-index state, built ONCE per (session, dir): the codebook
    * is TRAINED on the standing slice only (seeds = its 64 lowest
    * vec_ids — the batch must not leak into training, exactly like
    * q167's stored df head), and the standing assignments live in a
    * governed lake table a nightly run appends to. */
  private val ivfIncrStates = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (Array[Array[Double]], graft.lake.LakeTable)]()

  /** One standing-IVF build — codebook trained on the standing slice,
    * assignments landed merge-on-read so [[graft.operators.IndexMaintenance]]
    * can retire/replace rows (q177). Each caller gets its OWN warehouse:
    * q177's fixture mutates its copy, and a shared table would make the
    * q174/q177 results order-dependent. */
  private def buildIvfState(s: SparkSession, dir: String)
      : (Array[Array[Double]], graft.lake.LakeTable) = {
    import org.apache.spark.sql.types._
    val e = t(s, dir, "embeddings")
      .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
      .select(col("vec_id"), col("v"))
    val train = e.filter(!expr(VecNewPred)).localCheckpoint(true)
    val seeds = train.orderBy("vec_id").limit(IvfK)
      .collect().map(_.getSeq[Double](1).toArray)
    val cents = graft.operators.KMeansTrainer.train(train, seeds, KmIters)(
      (corpus, cs) => ivfAssignCarry(s, corpus, cs))
    val wh = java.nio.file.Files.createTempDirectory("graft-ivf-wh")
    val cat = new graft.lake.LakeCatalog(s, wh)
    cat.createNamespace("ann")
    val assignT = cat.createTable("ann", "assign", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("bucket", LongType))),
        props = graft.operators.StandingState.MorProps)
      .append(ivfAssignCompiled(s, train, "vec_id", "v", cents, 1)
        .select(col("vec_id"), col("bucket").cast("long").as("bucket")))
    (cents, assignT)
  }

  private def ivfIncrState(s: SparkSession, dir: String)
      : (Array[Array[Double]], graft.lake.LakeTable) =
    ivfIncrStates.computeIfAbsent((s, dir), { _ => buildIvfState(s, dir) })

  /** INCREMENTAL IVF index maintenance (X45 ∘ M34 — the nightly shape,
    * q167's posture on the vector side): the standing corpus's codebook
    * and bucket assignments are lake state built once; the run routes
    * ONLY the new batch through the stored centroids (one compiled
    * O(batch·K·d) pass — no retrain, no corpus re-assignment) and
    * reports per-bucket occupancy, stored vs new — the drift audit that
    * decides when the codebook needs retraining. Oracle: relearn the
    * standing codebook via unrolled CTE rounds (training predicate
    * excludes the batch), assign both slices under it. */
  val q174 = QueryDef(
    "q174_ivf_incremental",
    Some(kmeansRoundsSql(IvfK, KmIters, EmbDim,
      basePred = s"NOT ($VecNewPred)") + s""",
        sasg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT tre.vec_id, c.cid, row_number() OVER (PARTITION BY tre.vec_id
            ORDER BY list_cosine_similarity(tre.v, c.cv) DESC, c.cid) AS rn
          FROM tre, c${KmIters}v c) WHERE rn = 1),
        bat AS (SELECT vec_id, v FROM e WHERE $VecNewPred),
        basg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT bat.vec_id, c.cid, row_number() OVER (PARTITION BY bat.vec_id
            ORDER BY list_cosine_similarity(bat.v, c.cv) DESC, c.cid) AS rn
          FROM bat, c${KmIters}v c) WHERE rn = 1)
        SELECT bucket,
               CAST(SUM(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_stored,
               CAST(SUM(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_new
        FROM (SELECT bucket, 0 AS is_new FROM sasg
              UNION ALL SELECT bucket, 1 AS is_new FROM basg)
        GROUP BY bucket ORDER BY bucket"""),
    (s, dir) => {
      val (cents, assignT) = ivfIncrState(s, dir)
      val batch = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .filter(expr(VecNewPred))
        .select(col("vec_id"), col("v"))
      val basg = ivfAssignCompiled(s, batch, "vec_id", "v", cents, 1)
        .select(col("bucket").cast("long").as("bucket"), lit(1).as("is_new"))
      assignT.read().select(col("bucket"), lit(0).as("is_new"))
        .unionByName(basg)
        .groupBy("bucket")
        .agg(sum(when(col("is_new") === 0, 1L).otherwise(0L)).as("n_stored"),
          sum(when(col("is_new") === 1, 1L).otherwise(0L)).as("n_new"))
        .orderBy("bucket")
    })

  // ------------ q177 IVF assignment state after vector maintenance
  /** q176's arc on the VECTOR side (VERDICT r16 missing #1): the
    * standing embedding corpus changes — takedowns RETIRE vectors,
    * re-embeddings (model refresh on changed docs) REPLACE them — and
    * the stored assignment table must follow. Fixture: build the q174
    * standing state (codebook trained pre-maintenance, assignments
    * merge-on-read), then [[graft.operators.IndexMaintenance]]: retire
    * vec_id % 7 = 3 of the standing slice, re-embed vec_id % 7 = 5 to
    * the NEGATED vector — routed through the STORED centroids (no
    * retrain — one compiled O(changed·K·d) pass) and replaced by key in
    * ONE commit. Negation is IEEE-exact ((-a)+(-b) = -(a+b) bitwise),
    * so both engines flip the re-embedded assignments identically. The
    * query reports the q174 occupancy audit over the MAINTAINED table;
    * the oracle relearns the (unchanged, pre-maintenance) codebook via
    * unrolled CTE rounds and assigns the CURRENT corpus under it, so a
    * stale assignment row, a lingering retired vector, or a missed
    * reassignment all change the hash. */
  private val ivfMaintStates = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (Array[Array[Double]], graft.lake.LakeTable)]()

  private def ivfMaintState(s: SparkSession, dir: String)
      : (Array[Array[Double]], graft.lake.LakeTable) =
    ivfMaintStates.computeIfAbsent((s, dir), { _ =>
      val (cents, assignT) = buildIvfState(s, dir)
      val stored = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .filter(!expr(VecNewPred))
        .select(col("vec_id"), col("v"))
      val afterRetire = graft.operators.IndexMaintenance.retireAssignments(
        assignT, stored.filter(expr("vec_id % 7 = 3")).select("vec_id"))
      val maintained = graft.operators.IndexMaintenance.reassign(afterRetire,
        stored.filter(expr("vec_id % 7 = 5"))
          .select(col("vec_id"), transform(col("v"), x => -x).as("v")),
        df => ivfAssignCompiled(s, df, "vec_id", "v", cents, 1))
      // end-of-window compaction, same rationale as q176's fixture
      val compacted = graft.lake.Procedures.rewriteDataFiles(
        maintained, Map("rewrite-all" -> "true")).table
      (cents, compacted)
    })

  val q177 = QueryDef(
    "q177_maintained_ivf",
    Some(kmeansRoundsSql(IvfK, KmIters, EmbDim,
      basePred = s"NOT ($VecNewPred)") + s""",
        curst AS (SELECT vec_id,
            CASE WHEN vec_id % 7 = 5 THEN list_transform(v, x -> -x)
                 ELSE v END AS v
          FROM tre WHERE vec_id % 7 <> 3),
        sasg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT curst.vec_id, c.cid, row_number() OVER (PARTITION BY curst.vec_id
            ORDER BY list_cosine_similarity(curst.v, c.cv) DESC, c.cid) AS rn
          FROM curst, c${KmIters}v c) WHERE rn = 1),
        bat AS (SELECT vec_id, v FROM e WHERE $VecNewPred),
        basg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT bat.vec_id, c.cid, row_number() OVER (PARTITION BY bat.vec_id
            ORDER BY list_cosine_similarity(bat.v, c.cv) DESC, c.cid) AS rn
          FROM bat, c${KmIters}v c) WHERE rn = 1)
        SELECT bucket,
               CAST(SUM(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_stored,
               CAST(SUM(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_new
        FROM (SELECT bucket, 0 AS is_new FROM sasg
              UNION ALL SELECT bucket, 1 AS is_new FROM basg)
        GROUP BY bucket ORDER BY bucket"""),
    (s, dir) => {
      val (cents, assignT) = ivfMaintState(s, dir)
      val batch = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .filter(expr(VecNewPred))
        .select(col("vec_id"), col("v"))
      val basg = ivfAssignCompiled(s, batch, "vec_id", "v", cents, 1)
        .select(col("bucket").cast("long").as("bucket"), lit(1).as("is_new"))
      assignT.read().select(col("bucket"), lit(0).as("is_new"))
        .unionByName(basg)
        .groupBy("bucket")
        .agg(sum(when(col("is_new") === 0, 1L).otherwise(0L)).as("n_stored"),
          sum(when(col("is_new") === 1, 1L).otherwise(0L)).as("n_new"))
        .orderBy("bucket")
    })

  // ------------- q180 IVF index REBUILD/republish arc (X52, r18)
  /** The last missing lifecycle stage (VERDICT r17 missing #1): q174
    * appends the nightly batch under the standing codebook, q177
    * maintains the assignment rows through retire/re-embed — but the
    * CODEBOOK itself stays frozen at its training corpus, and the
    * q170/q174/q177 occupancy audits exist precisely to decide when
    * that artifact must be retrained. This arc runs the decision:
    * fixture = the q174 standing state (codebook trained on the
    * standing slice, vectors + assignments as merge-on-read lake
    * tables), then the FULL drift — the nightly batch append (q174's
    * shape) plus maintenance (q177's shape: retire vec_id % 7 = 3 of
    * the standing slice, re-embed % 7 = 5 to the negated vector) — and
    * then [[graft.operators.IndexRebuild.rebuildIvf]]: retrain on the
    * CURRENT corpus read back from the lake (seeds = its 64 lowest
    * vec_ids), WAP-publish the codebook through a staging branch, and
    * reassign the whole corpus as ONE overwrite snapshot. The query is
    * the q170 occupancy audit over the REBUILT lake state (assignments
    * ⋈ vectors ⋈ published centroids); the oracle relearns the
    * POST-DRIFT codebook through unrolled CTE rounds over the
    * maintained corpus and replays the audit — a stale assignment row,
    * a codebook trained on the wrong corpus, an unpublished branch, or
    * a missed reassignment all change the hash. */
  private val ivfRebuildStates = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.lake.LakeCatalog]()

  private def ivfRebuildState(s: SparkSession, dir: String): graft.lake.LakeCatalog =
    ivfRebuildStates.computeIfAbsent((s, dir), { _ =>
      val e = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .select(col("vec_id").cast("long").as("vec_id"), col("v"))
      val standing = e.filter(!expr(VecNewPred)).localCheckpoint(true)
      val batch = e.filter(expr(VecNewPred))
      // pre-drift codebook, trained on the standing slice (q174 posture)
      val seeds = standing.orderBy("vec_id").limit(IvfK)
        .collect().map(_.getSeq[Double](1).toArray)
      val centsOld = graft.operators.KMeansTrainer.train(standing, seeds, KmIters)(
        (corpus, cs) => ivfAssignCarry(s, corpus, cs))
      val wh = java.nio.file.Files.createTempDirectory("graft-ivfrb-wh")
      val cat = new graft.lake.LakeCatalog(s, wh)
      cat.createNamespace("ann")
      graft.operators.StandingState.provisionIvfState(cat, "ann", centsOld,
        standing, df => ivfAssignCompiled(s, df, "vec_id", "v", centsOld, 1))
      // drift 1 — the nightly batch append (M34 ∘ X45, q174's shape)
      cat.loadTable("ann", "vectors").get.append(batch)
      cat.loadTable("ann", "assign").get.append(
        ivfAssignCompiled(s, batch, "vec_id", "v", centsOld, 1)
          .select(col("vec_id"), col("bucket").cast("long").as("bucket")))
      // drift 2 — maintenance on the standing slice (X50, q177's shape)
      val retireIds = standing.filter(expr("vec_id % 7 = 3")).select("vec_id")
      val reemb = standing.filter(expr("vec_id % 7 = 5"))
        .select(col("vec_id"), transform(col("v"), x => -x).as("v"))
      cat.loadTable("ann", "vectors").get
        .addEqualityDeletes(retireIds, Seq("vec_id"))
      cat.loadTable("ann", "vectors").get.replaceByKey(reemb, Seq("vec_id"))
      graft.operators.IndexMaintenance.reassign(
        graft.operators.IndexMaintenance.retireAssignments(
          cat.loadTable("ann", "assign").get, retireIds),
        reemb, df => ivfAssignCompiled(s, df, "vec_id", "v", centsOld, 1))
      // the audit fires → the rebuild (X52): retrain on the CURRENT
      // corpus, WAP publish, one-snapshot reassignment
      graft.operators.IndexRebuild.rebuildIvf(cat, "ann", IvfK, KmIters,
        (corpus, cs) => ivfAssignCarry(s, corpus, cs),
        (df, cs) => ivfAssignCompiled(s, df, "vec_id", "v", cs, 1))
      cat
    })

  val q180 = QueryDef(
    "q180_ivf_rebuild",
    Some(kmeansRoundsSql(IvfK, KmIters, EmbDim, treSql = Some(s"""
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 5 AND NOT ($VecNewPred)
                    THEN list_transform(v, x -> -x) ELSE v END AS v
        FROM e WHERE NOT (vec_id % 7 = 3 AND NOT ($VecNewPred))""")) + s""",
        casg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT tre.vec_id, c.cid, row_number() OVER (PARTITION BY tre.vec_id
            ORDER BY list_cosine_similarity(tre.v, c.cv) DESC, c.cid) AS rn
          FROM tre, c${KmIters}v c) WHERE rn = 1)
        SELECT bucket, COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(list_cosine_similarity(tre.v, c.cv)
                      AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 4) AS avg_sim
        FROM casg JOIN tre USING (vec_id)
        JOIN c${KmIters}v c ON casg.bucket = c.cid
        GROUP BY bucket ORDER BY bucket"""),
    (s, dir) => {
      val cat = ivfRebuildState(s, dir)
      val cents = broadcast(cat.loadTable("ann", "centroids").get.read()
        .select(col("cid").as("bucket"), col("cv")))
      cat.loadTable("ann", "assign").get.read()
        .join(cat.loadTable("ann", "vectors").get.read(), "vec_id")
        .join(cents, "bucket")
        .select(col("bucket"),
          VectorOps.cosine(col("v"), col("cv")).as("sim_raw"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(sum(col("sim_raw").cast("decimal(28,12)")).cast("double")
            / count(lit(1)), 4).as("avg_sim"))
        .orderBy("bucket")
    })

  // ------ q184 IVF search SERVED through the rebuilt index (X52, r18)
  /** q180 gates the rebuilt index's occupancy AUDIT; this gates its END
    * USE — the q47 search pipeline run entirely against the REBUILT
    * lake state: codebook from the WAP-published centroids table,
    * corpus routing from the reassigned assign table (the search TRUSTS
    * the standing state — no recomputed corpus assignment), vectors
    * fetched from the maintained vectors table (negated re-embeds and
    * all), for a 4-query external batch (raw embedding rows — a query
    * need not be a corpus member; two of the four queries' corpus
    * twins were retired by the maintenance). The oracle relearns the
    * post-drift codebook (q180's CTE chain) and replays the full
    * route→candidates→exact-re-rank arc over the maintained corpus —
    * a stale assignment row or a wrong published centroid changes the
    * candidate sets and the hash. */
  val q184 = QueryDef(
    "q184_rebuilt_ivf_search",
    Some(kmeansRoundsSql(IvfK, KmIters, EmbDim, treSql = Some(s"""
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 5 AND NOT ($VecNewPred)
                    THEN list_transform(v, x -> -x) ELSE v END AS v
        FROM e WHERE NOT (vec_id % 7 = 3 AND NOT ($VecNewPred))""")) + s""",
        casg AS (SELECT vec_id, cid AS bucket FROM (
          SELECT tre.vec_id, c.cid, row_number() OVER (PARTITION BY tre.vec_id
            ORDER BY list_cosine_similarity(tre.v, c.cv) DESC, c.cid) AS rn
          FROM tre, c${KmIters}v c) WHERE rn = 1),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
        qasg AS (SELECT qid, cid AS bucket FROM (
          SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
            ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
          FROM q, c${KmIters}v c) WHERE rn <= $IvfProbes),
        cand AS (SELECT DISTINCT qid, vec_id
                 FROM casg JOIN qasg USING (bucket) WHERE vec_id <> qid),
        scored AS (SELECT cand.qid AS qid, cand.vec_id AS vec_id,
                          list_cosine_similarity(tre.v, q.qv) AS sim_raw
                   FROM cand JOIN tre USING (vec_id) JOIN q USING (qid)),
        ranked AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
                     PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rn
                   FROM scored)
        SELECT qid, CAST(rn AS INTEGER) AS rank, vec_id,
               ROUND(sim_raw, 4) AS sim
        FROM ranked WHERE rn <= 5 ORDER BY qid, rank"""),
    (s, dir) => {
      val cat = ivfRebuildState(s, dir)
      // the published artifact: a bounded K×d driver pull (q174's note)
      val cents = graft.operators.StandingState.loadCentroids(s, cat, "ann")
      val queries = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .filter(col("vec_id") < 4)
        .select(col("vec_id").cast("long").as("qid"), col("v").as("qv"))
        .localCheckpoint(true) // probed + re-ranked
      val qProbes = ivfAssignCompiled(s, queries, "qid", "qv", cents, IvfProbes)
      val cand = cat.loadTable("ann", "assign").get.read()
        .join(broadcast(qProbes), "bucket")
        .filter(col("vec_id") =!= col("qid"))
        .select("qid", "vec_id").distinct()
      // exactRerank's body with the rank retained — the rank must be
      // minted over RAW sims (ranking rounded sims could break oracle
      // ties differently)
      val scored = cat.loadTable("ann", "vectors").get.read()
        .select(col("vec_id"), col("v"))
        .join(broadcast(cand), "vec_id")
        .join(broadcast(queries), "qid")
        .select(col("qid"), col("vec_id"),
          VectorOps.cosine(col("v"), col("qv")).as("sim_raw"))
      val w = Window.partitionBy("qid")
        .orderBy(col("sim_raw").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("sim_raw"), 4).as("sim"))
        .orderBy("qid", "rank")
    })

  // --------------------- q171 embedding PCA / anisotropy audit (X46, r16)
  private val PcaIters = 24

  /** Unrolled power-iteration rounds over a materialized covariance CTE
    * — MATERIALIZED is load-bearing twice: each round references its
    * predecessor twice (matvec + norm), so inlined CTEs would expand
    * exponentially, and the covariance must not be recomputed per
    * round. Every aggregate is the decimal device; the driver-side
    * mirror is [[graft.operators.PcaPower.analyze]], expression for
    * expression. */
  private def pcaIterSql(cov: String, v0: String, tag: String,
      iters: Int): (String, String) = {
    val sb = new StringBuilder
    var v = v0
    for (t <- 1 to iters) {
      sb ++= s""",
        w$tag$t AS MATERIALIZED (SELECT cf.i AS i,
            ROUND(CAST(SUM(CAST(cf.c * v.x AS DECIMAL(28,12))) AS DOUBLE), 9) AS x
          FROM $cov cf JOIN $v v ON cf.j = v.i GROUP BY cf.i),
        n$tag$t AS MATERIALIZED (SELECT
            sqrt(CAST(SUM(CAST(x*x AS DECIMAL(28,12))) AS DOUBLE)) AS nv
          FROM w$tag$t),
        v$tag$t AS MATERIALIZED (SELECT i,
            ROUND(x / (SELECT nv FROM n$tag$t), 9) AS x FROM w$tag$t)"""
      v = s"v$tag$t"
    }
    (sb.toString, v)
  }

  /** Prologue shared by q171/q172: moments → covariance → `iters` power
    * rounds → the sign-fixed `pc` CTE (and `mu`), everything both the
    * stats query and the all-but-the-top application build on.
    * `corpusSql` (r18, q185) overrides the corpus CTE body — the
    * maintained-moments arc analyzes a corpus that drifted by
    * maintenance, not the raw embeddings table. */
  private def pcaPcSql(d: Int, iters: Int,
      corpusSql: String =
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"): String = {
    val (it1, v1) = pcaIterSql("covf", "v0", "a", iters)
    s"""WITH e AS ($corpusSql),
        nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM e),
        mom AS MATERIALIZED (SELECT i, j,
            SUM(CAST(v[i]*v[j] AS DECIMAL(28,12))) AS s
          FROM e, range(1,${d + 1}) a(i), range(1,${d + 1}) b(j)
          WHERE j >= i GROUP BY i, j),
        mu AS MATERIALIZED (SELECT i,
            CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE)
              / (SELECT n FROM nn) AS m
          FROM e, range(1,${d + 1}) a(i) GROUP BY i),
        cov AS MATERIALIZED (SELECT mom.i, mom.j,
            CAST(mom.s AS DOUBLE) / (SELECT n FROM nn) - ma.m * mb.m AS c
          FROM mom JOIN mu ma ON mom.i = ma.i JOIN mu mb ON mom.j = mb.i),
        covf AS MATERIALIZED (SELECT i, j, c FROM cov
          UNION ALL SELECT j AS i, i AS j, c FROM cov WHERE i <> j),
        v0 AS MATERIALIZED (SELECT i, 0.125::DOUBLE AS x
          FROM range(1,${d + 1}) a(i))$it1,
        sgn AS MATERIALIZED (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
          FROM $v1 ORDER BY abs(x) DESC, i LIMIT 1),
        pc AS MATERIALIZED (SELECT i, x * (SELECT s FROM sgn) AS x FROM $v1)"""
  }

  private def pcaOracleSql(d: Int, iters: Int,
      corpusSql: String =
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"): String = {
    val (it2, v2) = pcaIterSql("covd", "d0", "b", iters)
    pcaPcSql(d, iters, corpusSql) + s""",
        cv1 AS MATERIALIZED (SELECT cf.i AS i,
            ROUND(CAST(SUM(CAST(cf.c * p.x AS DECIMAL(28,12))) AS DOUBLE), 9) AS y
          FROM covf cf JOIN pc p ON cf.j = p.i GROUP BY cf.i),
        lam1 AS MATERIALIZED (SELECT
            ROUND(CAST(SUM(CAST(p.x * cv1.y AS DECIMAL(28,12))) AS DOUBLE), 9) AS l
          FROM pc p JOIN cv1 ON p.i = cv1.i),
        tr AS MATERIALIZED (SELECT
            CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE) AS t
          FROM covf WHERE i = j),
        covd AS MATERIALIZED (SELECT cf.i, cf.j,
            cf.c - (SELECT l FROM lam1) * pa.x * pb.x AS c
          FROM covf cf JOIN pc pa ON cf.i = pa.i JOIN pc pb ON cf.j = pb.i),
        d0 AS MATERIALIZED (SELECT i, 0.125::DOUBLE AS x
          FROM range(1,${d + 1}) a(i))$it2,
        cv2 AS MATERIALIZED (SELECT cf.i AS i,
            ROUND(CAST(SUM(CAST(cf.c * p.x AS DECIMAL(28,12))) AS DOUBLE), 9) AS y
          FROM covd cf JOIN $v2 p ON cf.j = p.i GROUP BY cf.i),
        lam2 AS MATERIALIZED (SELECT
            ROUND(CAST(SUM(CAST(p.x * cv2.y AS DECIMAL(28,12))) AS DOUBLE), 9) AS l
          FROM $v2 p JOIN cv2 ON p.i = cv2.i)
        SELECT 'evr1' AS stat,
               ROUND((SELECT l FROM lam1) / (SELECT t FROM tr), 6) AS value
        UNION ALL SELECT 'evr2',
               ROUND((SELECT l FROM lam2) / (SELECT t FROM tr), 6)
        UNION ALL SELECT 'rayleigh1', ROUND((SELECT l FROM lam1), 6)
        UNION ALL SELECT 'rayleigh2', ROUND((SELECT l FROM lam2), 6)
        UNION ALL SELECT 'trace', ROUND((SELECT t FROM tr), 6)
        UNION ALL SELECT 'pc1_' || lpad(CAST(i - 1 AS VARCHAR), 2, '0'),
               ROUND(x, 6) FROM pc
        ORDER BY stat"""
  }

  /** Embedding ANISOTROPY audit (X46): exact-moment covariance, 24
    * power rounds, sign-fixed top component, Rayleigh quotients before
    * and after rank-1 deflation, explained-variance ratios — the
    * "should we project out a common direction before indexing?"
    * decision (all-but-the-top). ONE corpus scan; everything after is
    * d²-scale driver math ([[graft.operators.PcaPower]]); the oracle
    * relearns the full analysis through unrolled CTE rounds. On this
    * near-isotropic corpus evr1 ≈ 1.3–1.8× the 1/64 isotropy floor —
    * the "no dominant direction, cosine is safe" verdict; the Rayleigh
    * estimates are documented lower bounds, converged only when a
    * spectral gap exists (PcaPowerSpec plants one and recovers it). */
  /** Moments are the only corpus-scale stage of the PCA family — memoized
    * per (session, dir) so q171 (the decision) and q172 (the
    * application) pay the scan once, the codebookCache pattern. */
  private val pcaMomentsCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    (Long, Array[java.math.BigDecimal], Array[Array[java.math.BigDecimal]])]()

  private def pcaStats(s: SparkSession, dir: String)
      : graft.operators.PcaPower.Stats = {
    val (n, muSum, mom) = pcaMomentsCache.computeIfAbsent((s, dir), { _ =>
      val e = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .select(col("v"))
      graft.operators.PcaPower.moments(s, e, EmbDim)
    })
    graft.operators.PcaPower.analyze(n, muSum, mom, EmbDim, PcaIters)
  }

  val q171 = QueryDef(
    "q171_embedding_pca",
    Some(pcaOracleSql(EmbDim, PcaIters)),
    (s, dir) => {
      import s.implicits._
      val st = pcaStats(s, dir)
      import graft.operators.PcaPower.rnd
      val rows = Seq(
        ("evr1", rnd(st.rayleigh1 / st.trace, 6)),
        ("evr2", rnd(st.rayleigh2 / st.trace, 6)),
        ("rayleigh1", rnd(st.rayleigh1, 6)),
        ("rayleigh2", rnd(st.rayleigh2, 6)),
        ("trace", rnd(st.trace, 6))) ++
        st.pc1.zipWithIndex.map { case (x, i) => (f"pc1_$i%02d", rnd(x, 6)) }
      rows.toDF("stat", "value").orderBy("stat")
    })

  /** ALL-BUT-THE-TOP applied (X46's q163-style decide→APPLY arc): remove
    * the mean and the learned top component from every embedding
    * ([[graft.operators.PcaPower.projectOut]] — one map-only pass, 2d
    * broadcast doubles), then exact top-5 cosine retrieval for the
    * 4-query batch over the CORRECTED table. No pinned constants: the
    * oracle relearns μ and the component through the q171 prologue and
    * rebuilds the corrected table itself, so the hash compares the whole
    * correct→retrieve arc. The projection coefficient and corrected
    * components go through the decimal device (bit-identical corrected
    * vectors on both engines); query fan-out is an explode + equi-join
    * against the 4-row broadcast batch — no cross product. */
  val q172 = QueryDef(
    "q172_abtt_topk",
    Some(pcaPcSql(EmbDim, PcaIters) + s""",
        dotq AS MATERIALIZED (SELECT e.vec_id,
            CAST(SUM(CAST((e.v[a.i] - mu.m) * p.x AS DECIMAL(28,12))) AS DOUBLE)
              AS dt
          FROM e, range(1,${EmbDim + 1}) a(i), mu, pc p
          WHERE mu.i = a.i AND p.i = a.i GROUP BY e.vec_id),
        ec AS MATERIALIZED (SELECT e.vec_id,
            list(ROUND(e.v[a.i] - mu.m - dotq.dt * p.x, 9) ORDER BY a.i) AS v
          FROM e, range(1,${EmbDim + 1}) a(i), mu, pc p, dotq
          WHERE mu.i = a.i AND p.i = a.i AND dotq.vec_id = e.vec_id
          GROUP BY e.vec_id),
        q AS (SELECT vec_id AS qid, v AS qv FROM ec WHERE vec_id < 4),
        scored AS (SELECT q.qid AS qid, ec.vec_id AS vec_id,
                          list_cosine_similarity(ec.v, q.qv) AS sim_raw
                   FROM ec, q WHERE ec.vec_id <> q.qid),
        ranked AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
                     PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rn
                   FROM scored)
        SELECT qid, vec_id, ROUND(sim_raw, 4) AS sim
        FROM ranked WHERE rn <= 5 ORDER BY qid, sim DESC, vec_id"""),
    (s, dir) => {
      val st = pcaStats(s, dir)
      val e = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .select(col("vec_id"), col("v"))
      val ec = graft.operators.PcaPower.projectOut(s, e, st.mean, st.pc1)
        .localCheckpoint(true) // two consumers: corpus side + query batch
      val queries = ec.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val scored = ec
        .withColumn("qid",
          explode(array((0L until 4L).map(lit): _*)))
        .join(broadcast(queries), "qid")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VectorOps.cosine(col("v"), col("qv")).as("sim_raw"))
      val w = Window.partitionBy("qid")
        .orderBy(col("sim_raw").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), round(col("sim_raw"), 4).as("sim"))
        .orderBy(col("qid"), col("sim").desc, col("vec_id"))
    })

  // ------------- q178 multi-component all-but-the-top (X46, r17)
  /** q172 with k = 2 components (VERDICT r16 missing #2): power rounds →
    * Rayleigh → deflate → power rounds again, BOTH components sign-fixed
    * and removed jointly against the raw centered vector (per-component
    * decimal dots, decimal-summed per position, ONE rounding — the rule
    * [[graft.operators.PcaPower.projectOutK]] and the oracle's
    * dotq/proj aggregates spell identically). The oracle relearns μ,
    * component 1, λ1, the deflated matrix, and component 2 through
    * unrolled MATERIALIZED CTE rounds and rebuilds the corrected table
    * itself — no pinned constants; exact top-5 retrieval over the
    * twice-corrected table hashes the whole decide→apply arc.
    * k = 2 reproduces q171's pc1/rayleigh1/rayleigh2 bit for bit
    * (PcaPowerSpec pins it), so the decision and application stay one
    * arithmetic. */
  private val AbttK = 2

  val q178 = QueryDef(
    "q178_abtt2_topk",
    Some {
      val (it2, v2) = pcaIterSql("covd", "d0", "b", PcaIters)
      pcaPcSql(EmbDim, PcaIters) + s""",
        cv1 AS MATERIALIZED (SELECT cf.i AS i,
            ROUND(CAST(SUM(CAST(cf.c * p.x AS DECIMAL(28,12))) AS DOUBLE), 9) AS y
          FROM covf cf JOIN pc p ON cf.j = p.i GROUP BY cf.i),
        lam1 AS MATERIALIZED (SELECT
            ROUND(CAST(SUM(CAST(p.x * cv1.y AS DECIMAL(28,12))) AS DOUBLE), 9) AS l
          FROM pc p JOIN cv1 ON p.i = cv1.i),
        covd AS MATERIALIZED (SELECT cf.i, cf.j,
            cf.c - (SELECT l FROM lam1) * pa.x * pb.x AS c
          FROM covf cf JOIN pc pa ON cf.i = pa.i JOIN pc pb ON cf.j = pb.i),
        d0 AS MATERIALIZED (SELECT i, 0.125::DOUBLE AS x
          FROM range(1,${EmbDim + 1}) a(i))$it2,
        sgn2 AS MATERIALIZED (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
          FROM $v2 ORDER BY abs(x) DESC, i LIMIT 1),
        pc2 AS MATERIALIZED (SELECT i, x * (SELECT s FROM sgn2) AS x FROM $v2),
        pck AS MATERIALIZED (SELECT 1 AS c, i, x FROM pc
          UNION ALL SELECT 2 AS c, i, x FROM pc2),
        dotq AS MATERIALIZED (SELECT e.vec_id, p.c,
            CAST(SUM(CAST((e.v[a.i] - mu.m) * p.x AS DECIMAL(28,12))) AS DOUBLE)
              AS dt
          FROM e, range(1,${EmbDim + 1}) a(i), mu, pck p
          WHERE mu.i = a.i AND p.i = a.i GROUP BY e.vec_id, p.c),
        proj AS MATERIALIZED (SELECT dotq.vec_id, p.i,
            CAST(SUM(CAST(dotq.dt * p.x AS DECIMAL(28,12))) AS DOUBLE) AS pr
          FROM dotq JOIN pck p ON dotq.c = p.c GROUP BY dotq.vec_id, p.i),
        ec AS MATERIALIZED (SELECT e.vec_id,
            list(ROUND(e.v[a.i] - mu.m - proj.pr, 9) ORDER BY a.i) AS v
          FROM e, range(1,${EmbDim + 1}) a(i), mu, proj
          WHERE mu.i = a.i AND proj.vec_id = e.vec_id AND proj.i = a.i
          GROUP BY e.vec_id),
        q AS (SELECT vec_id AS qid, v AS qv FROM ec WHERE vec_id < 4),
        scored AS (SELECT q.qid AS qid, ec.vec_id AS vec_id,
                          list_cosine_similarity(ec.v, q.qv) AS sim_raw
                   FROM ec, q WHERE ec.vec_id <> q.qid),
        ranked AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
                     PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rn
                   FROM scored)
        SELECT qid, vec_id, ROUND(sim_raw, 4) AS sim
        FROM ranked WHERE rn <= 5 ORDER BY qid, sim DESC, vec_id"""
    },
    (s, dir) => {
      val (n, muSum, mom) = pcaMomentsCache.computeIfAbsent((s, dir), { _ =>
        val e0 = t(s, dir, "embeddings")
          .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
          .select(col("v"))
        graft.operators.PcaPower.moments(s, e0, EmbDim)
      })
      val tk = graft.operators.PcaPower.analyzeTopK(
        n, muSum, mom, EmbDim, PcaIters, AbttK)
      val e = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .select(col("vec_id"), col("v"))
      val ec = graft.operators.PcaPower.projectOutK(s, e, tk.mean, tk.pcs)
        .localCheckpoint(true) // two consumers: corpus side + query batch
      val queries = ec.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val scored = ec
        .withColumn("qid",
          explode(array((0L until 4L).map(lit): _*)))
        .join(broadcast(queries), "qid")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VectorOps.cosine(col("v"), col("qv")).as("sim_raw"))
      val w = Window.partitionBy("qid")
        .orderBy(col("sim_raw").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), round(col("sim_raw"), 4).as("sim"))
        .orderBy(col("qid"), col("sim").desc, col("vec_id"))
    })

  // ----------------- q173 distilled model-based quality filter (X47, r16)
  private val LrSteps = 8
  private val LrRate = 2.0
  private val LrNf = 7

  private def lrFeatsSql: String =
    """feats AS MATERIALIZED (
         SELECT doc_id,
           [1.0,
            least(ntok, 128) / 128.0,
            (letters::DOUBLE / ntok) / 8.0,
            stop::DOUBLE / ntok,
            dist::DOUBLE / ntok,
            short::DOUBLE / ntok,
            lex::DOUBLE / ntok] AS x,
           CASE WHEN ntok BETWEEN 32 AND 512 AND stop*20 >= ntok
                THEN 1.0 ELSE 0.0 END AS y
         FROM (SELECT doc_id, n_chars,
                 len(tk) AS ntok,
                 len(replace(text, ' ', '')) AS letters,
                 len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it','on','for'))) AS stop,
                 len(list_distinct(tk)) AS dist,
                 len(list_filter(tk, x -> len(x) <= 2)) AS short,
                 len(list_filter(tk, x -> x IN ('spark','table','row','scan','hash','sort'))) AS lex
               FROM (SELECT doc_id, text, n_chars,
                       string_split(lower(text), ' ') AS tk
                     FROM documents)))"""

  /** Training CTE chain through `zf` (final margins over ALL feats,
    * doc_id retained so callers can split metrics). `trainPred`
    * restricts the slice the GRADIENTS see — q175 trains on the
    * standing 80% and evaluates held-out; q173's TRUE is the
    * whole-corpus special case (`tfeats` = `feats`, `nn` counts it).
    * `featsSql`/`nf` select the feature builder — the base 7 features
    * or q179's hashed-bigram extension. */
  private def lrTrainSql(trainPred: String,
      featsSql: String = lrFeatsSql, nf: Int = LrNf): String = {
    val sb = new StringBuilder("WITH " + featsSql + s""",
        tfeats AS MATERIALIZED (SELECT * FROM feats WHERE $trainPred),
        tn AS MATERIALIZED (SELECT COUNT(*) AS n FROM tfeats),
        w0 AS MATERIALIZED (SELECT j, 0.0::DOUBLE AS w FROM range(0,$nf) t(j))""")
    for (r <- 1 to LrSteps) sb ++= s""",
        z$r AS MATERIALIZED (SELECT f.doc_id, f.y,
            CAST(SUM(CAST(f.x[t.j+1] * w.w AS DECIMAL(28,12))) AS DOUBLE) AS z
          FROM tfeats f, range(0,$nf) t(j), w${r - 1} w
          WHERE w.j = t.j GROUP BY f.doc_id, f.y),
        s$r AS MATERIALIZED (SELECT doc_id, y,
            0.5 + 0.5*z/(1+abs(z)) AS p FROM z$r),
        g$r AS MATERIALIZED (SELECT t.j,
            CAST(SUM(CAST((s.p - s.y) * f.x[t.j+1] AS DECIMAL(28,12))) AS DOUBLE)
              / (SELECT n FROM tn) AS g
          FROM s$r s, tfeats f, range(0,$nf) t(j)
          WHERE f.doc_id = s.doc_id GROUP BY t.j),
        w$r AS MATERIALIZED (SELECT w.j, ROUND(w.w - $LrRate * g.g, 9) AS w
          FROM w${r - 1} w, g$r g WHERE g.j = w.j)"""
    sb ++= s""",
        zf AS MATERIALIZED (SELECT f.doc_id, f.y,
            CAST(SUM(CAST(f.x[t.j+1] * w.w AS DECIMAL(28,12))) AS DOUBLE) AS z
          FROM feats f, range(0,$nf) t(j), w$LrSteps w
          WHERE w.j = t.j GROUP BY f.doc_id, f.y)"""
    sb.toString
  }

  private def lrOracleSql: String =
    lrTrainSql("TRUE") + s"""
        SELECT 'agree' AS stat,
               SUM(CASE WHEN (z >= 0) = (y = 1.0) THEN 1 ELSE 0 END)::DOUBLE AS value
        FROM zf
        UNION ALL SELECT 'kept', SUM(CASE WHEN z >= 0 THEN 1 ELSE 0 END)::DOUBLE
        FROM zf
        UNION ALL SELECT 'n_docs', (SELECT n FROM tn)::DOUBLE
        UNION ALL SELECT 'teacher_pos', SUM(y) FROM zf
        UNION ALL SELECT 'w' || CAST(j AS VARCHAR), ROUND(w, 6) FROM w$LrSteps
        ORDER BY stat"""

  /** DISTILLED model-based quality filter (X47 — the CCNet/fastText
    * filtering step): a crisp integer teacher rule (length band +
    * stopword floor, exact on both engines) supervises 8 full-batch
    * gradient rounds of a linear scorer over 6 cheap per-doc features
    * (scaled length, mean word length, stopword/type-token/short-token/
    * content-lexicon ratios — each a single division of exact integer
    * counts). The link is the RATIONAL sigmoid (IEEE-deterministic; a
    * transcendental exp() would drift between libms), margins and
    * gradients ride the decimal device, weight updates round to 9 dp —
    * so the oracle RELEARNS identical weights through unrolled CTE
    * rounds and the hash compares the whole distill→score arc: learned
    * weights, kept count under the student (z ≥ 0), and student↔teacher
    * agreement (70% here — the student generalizes the rule, not
    * memorizes it). Per step: one map-only corpus pass, [[LrNf]] driver
    * cells ([[graft.operators.LinearTrainer]]). */
  /** (doc_id, x, y) feature table shared by q173/q175, checkpointed
    * because one run consumes it steps + 1 times. Built PER RUN, never
    * memoized across runs: a harness that unpersists checkpoint blocks
    * between runs (Bench.level does, deliberately) would leave a cached
    * handle dangling — the r16 full bench measured exactly that failure
    * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on q173/q175's second sample).
    * Memo caches must hold driver values (arrays, lake handles), never
    * checkpointed plans. */
  /** Compiled per-row feature counters shared by [[lrFeats]] and
    * [[lrFeatsExtOn]] (r20 optimization round, guide §4): the
    * declarative spelling evaluated ~6 interpreted lambda passes per
    * row (stopword/short/lexicon filters, distinct, and — extended —
    * an md5 transform plus 16 bucket-count filters); one compiled pass
    * computes every counter. Token/length semantics mirror the column
    * twins exactly: split(lower, ' ') with trailing empties, length()
    * = code points, the md5 bucket = the hex digit of the digest's
    * high nibble. Returns (ntok, letters, stop, dist, short, lex,
    * bk-counts[LrHb]). */
  private def lrCounters(text: String, withBk: Boolean)
      : (Int, Int, Int, Int, Int, Int, Array[Int]) = {
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    val tk = lowered.split(" ", -1)
    // letters = length(regexp_replace(text, " ", "")) — code points of
    // the ORIGINAL text minus its spaces
    var letters = 0
    var ci = 0
    while (ci < text.length) {
      val cp = text.codePointAt(ci)
      if (cp != ' '.toInt) letters += 1
      ci += Character.charCount(cp)
    }
    val en = Set("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")
    val lexicon = Set("spark", "table", "row", "scan", "hash", "sort")
    var stop = 0; var short = 0; var lex = 0
    val seen = new java.util.HashSet[String]()
    var i = 0
    while (i < tk.length) {
      val w = tk(i)
      if (en.contains(w)) stop += 1
      if (lexicon.contains(w)) lex += 1
      if (w.codePointCount(0, w.length) <= 2) short += 1
      seen.add(w)
      i += 1
    }
    val bk = new Array[Int](LrHb)
    if (withBk && tk.length >= 2) {
      val md = java.security.MessageDigest.getInstance("MD5")
      i = 0
      while (i < tk.length - 1) {
        val d = md.digest((tk(i) + " " + tk(i + 1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        bk((d(0) >> 4) & 0xf) += 1
        md.reset()
        i += 1
      }
    }
    (tk.length, letters, stop, seen.size, short, lex, bk)
  }

  /** The shared x/y assembly over compiled counters — arithmetic
    * IDENTICAL to the old column spelling (int→double casts, same
    * operation order), so the learned weights and the oracle hash are
    * unchanged. */
  private def lrXy(ntok: Int, letters: Int, stop: Int, dist: Int,
      short: Int, lex: Int, bk: Array[Int], withBk: Boolean)
      : (Seq[Double], Double) = {
    val base = Seq(1.0,
      math.min(ntok, 128) / 128.0,
      (letters.toDouble / ntok) / 8.0,
      stop.toDouble / ntok,
      dist.toDouble / ntok,
      short.toDouble / ntok,
      lex.toDouble / ntok)
    val x = if (withBk) base ++ (0 until LrHb).map(b =>
      math.min(bk(b), 4).toDouble / 4.0) else base
    val y = if (ntok >= 32 && ntok <= 512 && stop * 20 >= ntok) 1.0 else 0.0
    (x, y)
  }

  private def lrFeats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val (ntok, letters, stop, dist, short, lex, bk) =
          lrCounters(text, withBk = false)
        val (x, y) = lrXy(ntok, letters, stop, dist, short, lex, bk, false)
        (id, x, y)
      }
      .toDF("doc_id", "x", "y")
      .localCheckpoint(true)
  }

  val q173 = QueryDef(
    "q173_quality_distill",
    Some(lrOracleSql),
    (s, dir) => {
      import s.implicits._
      val feats = lrFeats(s, dir)
      val n = feats.count()
      val w = graft.operators.LinearTrainer.fit(
        s, feats, LrNf, n, LrSteps, LrRate)
      val (kept, agree, tpos) =
        graft.operators.LinearTrainer.stats(s, feats, LrNf, w)
      import graft.operators.PcaPower.rnd
      val rows = Seq(
        ("agree", agree.toDouble),
        ("kept", kept.toDouble),
        ("n_docs", n.toDouble),
        ("teacher_pos", tpos)) ++
        w.zipWithIndex.map { case (x, j) => (s"w$j", rnd(x, 6)) }
      rows.toDF("stat", "value").orderBy("stat")
    })

  /** HELD-OUT evaluation of the distilled filter (X47 — the eval a
    * deployment actually needs before trusting a cheap model to gate a
    * corpus): train on the standing 80% (`doc_id % 10 < 8`, the q167
    * split device), score BOTH slices under the learned weights, and
    * report train-vs-held-out agreement and kept-rate — generalization
    * measured on documents the gradients never saw, not the in-sample
    * number q173 reports. Same replayable loop, so the oracle relearns
    * the 80%-trained weights and computes the same split metrics. */
  val q175 = QueryDef(
    "q175_quality_holdout",
    Some(lrTrainSql("doc_id % 10 < 8") + s"""
        SELECT 'eval_agree' AS stat,
               SUM(CASE WHEN (z >= 0) = (y = 1.0) AND doc_id % 10 >= 8
                   THEN 1 ELSE 0 END)::DOUBLE AS value
        FROM zf
        UNION ALL SELECT 'eval_kept',
               SUM(CASE WHEN z >= 0 AND doc_id % 10 >= 8
                   THEN 1 ELSE 0 END)::DOUBLE
        FROM zf
        UNION ALL SELECT 'eval_n',
               SUM(CASE WHEN doc_id % 10 >= 8 THEN 1 ELSE 0 END)::DOUBLE
        FROM zf
        UNION ALL SELECT 'train_agree',
               SUM(CASE WHEN (z >= 0) = (y = 1.0) AND doc_id % 10 < 8
                   THEN 1 ELSE 0 END)::DOUBLE
        FROM zf
        UNION ALL SELECT 'train_n', (SELECT n FROM tn)::DOUBLE
        UNION ALL SELECT 'w' || CAST(j AS VARCHAR), ROUND(w, 6) FROM w$LrSteps
        ORDER BY stat"""),
    (s, dir) => {
      import s.implicits._
      val feats = lrFeats(s, dir)
      val trainF = feats.filter(col("doc_id") % 10 < 8)
      // one pass counts both slices; one pass scores both slices (r19
      // optimization round — was four separate corpus jobs)
      val cnt = feats.groupBy((col("doc_id") % 10 < 8).as("tr"))
        .count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val nTrain = cnt.getOrElse(true, 0L)
      val nEval = cnt.getOrElse(false, 0L)
      val w = graft.operators.LinearTrainer.fit(
        s, trainF, LrNf, nTrain, LrSteps, LrRate)
      val ((_, trainAgree, _), (evalKept, evalAgree, _)) =
        graft.operators.LinearTrainer.statsSplit(
          s, feats, col("doc_id") % 10 < 8, LrNf, w)
      import graft.operators.PcaPower.rnd
      val rows = Seq(
        ("eval_agree", evalAgree.toDouble),
        ("eval_kept", evalKept.toDouble),
        ("eval_n", nEval.toDouble),
        ("train_agree", trainAgree.toDouble),
        ("train_n", nTrain.toDouble)) ++
        w.zipWithIndex.map { case (x, j) => (s"w$j", rnd(x, 6)) }
      rows.toDF("stat", "value").orderBy("stat")
    })

  // -------- q185 PCA audit over MAINTAINED moment state (X56, r18)
  /** The moment pass is the PCA family's only corpus-scale stage; X56
    * keeps it as standing lake state — exact decimal sums form a group,
    * so a batch append ADDS its cells and a retire SUBTRACTS the exact
    * cells the rows once added (bit-exact cancellation: the same
    * double→DECIMAL(28,12) cast on both sides). Fixture: provision the
    * moments over the standing slice, then the full drift — the
    * nightly batch append, retire `vec_id % 7 = 3`, re-embed
    * `% 7 = 5` to the negated vector — each folded in as an
    * O(changed·d²) [[graft.operators.MomentState.applyDelta]] commit.
    * The query runs the whole q171 analysis ([[graft.operators
    * .PcaPower.analyze]]) from the MAINTAINED cells; the oracle
    * relearns it from scratch over the CURRENT corpus — the maintained
    * sums must be bit-identical to the recompute or the deterministic
    * power iterations diverge and the hash breaks. Note the negation
    * symmetry the arc deliberately exposes: a re-embedded vector flips
    * its first-moment cells but leaves its xᵢxⱼ cells unchanged
    * ((−a)(−b) = ab), so a maintenance bug that only touched second
    * moments would still fail on μ. */
  private val momentStates = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.lake.LakeCatalog]()

  private def momentState(s: SparkSession, dir: String): graft.lake.LakeCatalog =
    momentStates.computeIfAbsent((s, dir), { _ =>
      val e = t(s, dir, "embeddings")
        .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
        .select(col("vec_id").cast("long").as("vec_id"), col("v"))
      val standing = e.filter(!expr(VecNewPred)).localCheckpoint(true)
      val batch = e.filter(expr(VecNewPred))
      val wh = java.nio.file.Files.createTempDirectory("graft-mom-wh")
      val cat = new graft.lake.LakeCatalog(s, wh)
      cat.createNamespace("pca")
      graft.operators.MomentState.provision(cat, "pca", standing, EmbDim)
      val empty = standing.filter(lit(false))
      // drift 1 — the nightly batch arrives
      graft.operators.MomentState.applyDelta(cat, "pca", empty, batch, EmbDim)
      // drift 2 — takedowns retire standing rows (their exact cells
      // subtract back out)
      graft.operators.MomentState.applyDelta(cat, "pca",
        standing.filter(expr("vec_id % 7 = 3")), empty, EmbDim)
      // drift 3 — re-embeds swap old cells for new in one commit
      val re5 = standing.filter(expr("vec_id % 7 = 5"))
      graft.operators.MomentState.applyDelta(cat, "pca", re5,
        re5.select(col("vec_id"), transform(col("v"), x => -x).as("v")),
        EmbDim)
      cat
    })

  val q185 = QueryDef(
    "q185_maintained_pca",
    Some(pcaOracleSql(EmbDim, PcaIters, corpusSql = s"""
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 5 AND NOT ($VecNewPred)
                    THEN list_transform(embedding::DOUBLE[], x -> -x)
                    ELSE embedding::DOUBLE[] END AS v
        FROM embeddings
        WHERE NOT (vec_id % 7 = 3 AND NOT ($VecNewPred))""")),
    (s, dir) => {
      import s.implicits._
      val cat = momentState(s, dir)
      val (n, muSum, mom) =
        graft.operators.MomentState.load(cat, "pca", EmbDim)
      val st = graft.operators.PcaPower.analyze(n, muSum, mom,
        EmbDim, PcaIters)
      import graft.operators.PcaPower.rnd
      val rows = Seq(
        ("evr1", rnd(st.rayleigh1 / st.trace, 6)),
        ("evr2", rnd(st.rayleigh2 / st.trace, 6)),
        ("rayleigh1", rnd(st.rayleigh1, 6)),
        ("rayleigh2", rnd(st.rayleigh2, 6)),
        ("trace", rnd(st.trace, 6))) ++
        st.pc1.zipWithIndex.map { case (x, i) => (f"pc1_$i%02d", rnd(x, 6)) }
      rows.toDF("stat", "value").orderBy("stat")
    })

  // -------- q186 BM25 search over a MAINTAINED inverted index (X57, r18)
  /** The lexical leg of the standing-state family: q71 recomputes BM25
    * from raw text per probe — the serving shape reads an INDEX, and
    * the index must follow the corpus. Fixture: provision
    * [[graft.operators.Bm25Index]] over the standing slice (inverted
    * postings + doc lengths + exact (n, Σdl) counters), append the
    * nightly batch, retire `doc_id % 7 = 3`, re-crawl `% 7 = 5` to
    * text·' '·text (every tf and dl doubles — the q176 drift device);
    * the query is a probe-term search served ENTIRELY from the
    * maintained tables (df derived from the probe terms' posting lists,
    * avgdl from the delta-maintained counters). The oracle recomputes
    * q71's exact algebraic form from the CURRENT corpus — a stale
    * posting, a lingering length row, or a drifted counter shifts
    * scores and breaks the hash. */
  private val bm25States = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.lake.LakeCatalog]()

  private def bm25State(s: SparkSession, dir: String): graft.lake.LakeCatalog =
    bm25States.computeIfAbsent((s, dir), { _ =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val standing = docs.filter(!expr(IncrNewPred)).localCheckpoint(true)
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-wh")
      val cat = new graft.lake.LakeCatalog(s, wh)
      cat.createNamespace("ix")
      graft.operators.Bm25Index.provision(cat, "ix", standing)
      graft.operators.Bm25Index.append(cat, "ix",
        docs.filter(expr(IncrNewPred)), eventId = 1)
      graft.operators.Bm25Index.retire(cat, "ix",
        standing.filter(expr(RetirePred)).select("doc_id"), eventId = 2)
      graft.operators.Bm25Index.recrawl(cat, "ix",
        standing.filter(expr(RecrawlPred)).select(col("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")),
        eventId = 3)
      cat
    })

  /** The q186 oracle's BM25-from-the-current-corpus CTE chain (ends at
    * `p` = per-doc pivoted score) — shared with q189, whose lexical
    * leg is the SAME maintained-index search at a deeper k. */
  private def bm25MaintChainSql: String = {
    val terms = Bm25Terms.map(w => s"'$w'").mkString(", ")
    val pivot = Bm25Terms
      .map(w => s"COALESCE(MAX(CASE WHEN w = '$w' THEN contrib END), 0)")
      .mkString(" + ")
    s"""WITH cur AS (SELECT doc_id,
                 CASE WHEN doc_id % 10 < 8 AND $RecrawlPred
                      THEN text || ' ' || text ELSE text END AS text
               FROM documents
               WHERE NOT (doc_id % 10 < 8 AND $RetirePred)),
               tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                      FROM cur),
               l AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM tk),
               st AS (SELECT COUNT(*)::DOUBLE AS n,
                             SUM(len(t))::DOUBLE / COUNT(*)::DOUBLE AS avgdl
                      FROM tk),
               tf AS (SELECT doc_id, w, COUNT(*)::DOUBLE AS tf
                      FROM (SELECT doc_id, unnest(t) AS w FROM tk)
                      WHERE w IN ($terms) GROUP BY doc_id, w),
               df AS (SELECT w, COUNT(*)::DOUBLE AS df FROM tf GROUP BY w),
               c AS (SELECT tf.doc_id, tf.w,
                       ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / st.avgdl))
                         AS contrib
                     FROM tf JOIN df USING (w) CROSS JOIN st
                       JOIN l ON tf.doc_id = l.doc_id),
               p AS (SELECT doc_id, $pivot AS s FROM c GROUP BY doc_id)"""
  }

  val q186 = QueryDef(
    "q186_maintained_bm25",
    Some(bm25MaintChainSql + """
               SELECT doc_id, ROUND(s, 4) AS score FROM p
               ORDER BY s DESC, doc_id LIMIT 10"""),
    (s, dir) => graft.operators.Bm25Index.search(
      bm25State(s, dir), "ix", Bm25Terms, 10))

  // --------- q179 hashed-bigram features for the quality filter (X47, r17)
  /** fastText's actual trick (VERDICT r16 #7): beyond the 6 engineered
    * ratios, a bag of HASHED word-bigram counts in a fixed bucket space
    * — no vocabulary, bounded feature width, pure integer counts turned
    * into ratio features through the same device. Bucket = first hex
    * char of md5(tok_i · ' ' · tok_{i+1}) (md5 is bit-identical across
    * engines; the hex-digit lookup spells as instr/strpos in both), so
    * the oracle rebuilds the exact feature table with no hash-function
    * parity risk. [[LrHb]] = 16 buckets keeps the oracle's unrolled
    * chain at 23 features. */
  private val LrHb = 16
  private val LrNfExt = LrNf + LrHb

  private def lrFeatsExtSql: String = {
    val hb = (0 until LrHb).map(b =>
      s"least(len(list_filter(bk, q -> q = $b)), 4) / 4.0").mkString(",\n            ")
    s"""feats AS MATERIALIZED (
         SELECT doc_id,
           [1.0,
            least(ntok, 128) / 128.0,
            (letters::DOUBLE / ntok) / 8.0,
            stop::DOUBLE / ntok,
            dist::DOUBLE / ntok,
            short::DOUBLE / ntok,
            lex::DOUBLE / ntok,
            $hb] AS x,
           CASE WHEN ntok BETWEEN 32 AND 512 AND stop*20 >= ntok
                THEN 1.0 ELSE 0.0 END AS y
         FROM (SELECT doc_id, n_chars,
                 len(tk) AS ntok,
                 len(replace(text, ' ', '')) AS letters,
                 len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it','on','for'))) AS stop,
                 len(list_distinct(tk)) AS dist,
                 len(list_filter(tk, x -> len(x) <= 2)) AS short,
                 len(list_filter(tk, x -> x IN ('spark','table','row','scan','hash','sort'))) AS lex,
                 list_transform(range(1, len(tk)),
                   i -> strpos('0123456789abcdef',
                          substr(md5(tk[i] || ' ' || tk[i+1]), 1, 1)) - 1) AS bk
               FROM (SELECT doc_id, text, n_chars,
                       string_split(lower(text), ' ') AS tk
                     FROM documents)))"""
  }

  /** Engine twin of [[lrFeatsExtSql]] — the base [[lrFeats]] columns
    * plus 16 hashed-bigram presence features — parameterized over the
    * docs frame so LinearTrainerSpec's planted-signal gate exercises
    * the EXACT production builder. Same per-run checkpoint rule. */
  private[graft] def lrFeatsExtOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // one compiled pass per row (see lrCounters) — the old spelling ran
    // an interpreted md5 transform plus 16 bucket-count filter lambdas
    // on top of the base feature filters
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val (ntok, letters, stop, dist, short, lex, bk) =
          lrCounters(text, withBk = true)
        val (x, y) = lrXy(ntok, letters, stop, dist, short, lex, bk, true)
        (id, x, y)
      }
      .toDF("doc_id", "x", "y")
      .localCheckpoint(true)
  }

  private def lrFeatsExt(s: SparkSession, dir: String): DataFrame =
    lrFeatsExtOn(t(s, dir, "documents").select("doc_id", "text"))

  /** q175's held-out protocol under the EXTENDED features: train on the
    * standing 80%, evaluate on the 20% the gradients never saw; the
    * hash gates the learned 23 weights and both split metrics.
    *
    * Measured honestly (r17): on THIS synthetic corpus the hashed
    * features tie the 7-feature student (73/100 held-out at sf0.001) —
    * the corpus has no lexical structure for them to find (every lang
    * shares one small vocabulary; `lang` itself is random metadata), so
    * any teacher expressible here is already a function of the base
    * ratios. The operator's value is the bounded-width feature plumbing
    * — no vocabulary, fixed 16-bucket space, cross-engine md5 parity —
    * and LinearTrainerSpec's planted-signal gate proves the capability
    * the corpus can't: when the label IS lexical (a planted phrase),
    * the hashed student strictly beats the base student on held-out
    * docs, because only the hashed buckets can see the phrase at all. */
  val q179 = QueryDef(
    "q179_quality_ngrams",
    Some(lrTrainSql("doc_id % 10 < 8", lrFeatsExtSql, LrNfExt) + s"""
        SELECT 'eval_agree' AS stat,
               SUM(CASE WHEN (z >= 0) = (y = 1.0) AND doc_id % 10 >= 8
                   THEN 1 ELSE 0 END)::DOUBLE AS value
        FROM zf
        UNION ALL SELECT 'eval_kept',
               SUM(CASE WHEN z >= 0 AND doc_id % 10 >= 8
                   THEN 1 ELSE 0 END)::DOUBLE
        FROM zf
        UNION ALL SELECT 'eval_n',
               SUM(CASE WHEN doc_id % 10 >= 8 THEN 1 ELSE 0 END)::DOUBLE
        FROM zf
        UNION ALL SELECT 'train_agree',
               SUM(CASE WHEN (z >= 0) = (y = 1.0) AND doc_id % 10 < 8
                   THEN 1 ELSE 0 END)::DOUBLE
        FROM zf
        UNION ALL SELECT 'train_n', (SELECT n FROM tn)::DOUBLE
        UNION ALL SELECT 'w' || lpad(CAST(j AS VARCHAR), 2, '0'), ROUND(w, 6)
        FROM w$LrSteps
        ORDER BY stat"""),
    (s, dir) => {
      import s.implicits._
      val feats = lrFeatsExt(s, dir)
      val trainF = feats.filter(col("doc_id") % 10 < 8)
      // one pass counts both slices; one pass scores both slices (r19
      // optimization round — was four separate corpus jobs)
      val cnt = feats.groupBy((col("doc_id") % 10 < 8).as("tr"))
        .count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val nTrain = cnt.getOrElse(true, 0L)
      val nEval = cnt.getOrElse(false, 0L)
      val w = graft.operators.LinearTrainer.fit(
        s, trainF, LrNfExt, nTrain, LrSteps, LrRate)
      val ((_, trainAgree, _), (evalKept, evalAgree, _)) =
        graft.operators.LinearTrainer.statsSplit(
          s, feats, col("doc_id") % 10 < 8, LrNfExt, w)
      import graft.operators.PcaPower.rnd
      val rows = Seq(
        ("eval_agree", evalAgree.toDouble),
        ("eval_kept", evalKept.toDouble),
        ("eval_n", nEval.toDouble),
        ("train_agree", trainAgree.toDouble),
        ("train_n", nTrain.toDouble)) ++
        w.zipWithIndex.map { case (x, j) => (f"w$j%02d", rnd(x, 6)) }
      rows.toDF("stat", "value").orderBy("stat")
    })

  // ------ q187 standing k-NN graph state under maintenance (X58, r19)
  /** VERDICT r18 missing #1: the graph family gets governed standing
    * state. Fixture: [[graft.operators.GraphIndex]] provisions the
    * q162+q182 graph (corpus, signatures, pruned edges) over the
    * standing slice, then the full drift — the nightly batch APPENDS
    * (new vectors insert their own edge lists AND update every
    * standing anchor their signatures band-collide with), takedowns
    * RETIRE `vec_id % 7 = 3` (their lists go; anchors that could have
    * held them rebuild against the post-delete corpus), re-embeds
    * REPLACE `% 7 = 5` with the negated vector (old- and new-signature
    * neighborhoods both rebuild). The query reads the STORED edge
    * table; the oracle recomputes build+prune from scratch over the
    * CURRENT corpus — a stale edge, a missed anchor update, a
    * lingering retired vertex, or a wrong kept flag all break the
    * hash. */
  private val GraphMaintCorpusSql = s"""SELECT vec_id,
        CASE WHEN vec_id % 7 = 5 AND NOT ($VecNewPred)
             THEN list_transform(embedding::DOUBLE[], x -> -x)
             ELSE embedding::DOUBLE[] END AS v
      FROM embeddings
      WHERE NOT (vec_id % 7 = 3 AND NOT ($VecNewPred))"""

  private val graphStates = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.lake.LakeCatalog]()

  private def graphState(s: SparkSession, dir: String): graft.lake.LakeCatalog =
    graphStates.computeIfAbsent((s, dir), { _ =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          VectorOps.toDoubleVec(col("embedding")).as("v"))
      val standing = e.filter(!expr(VecNewPred)).localCheckpoint(true)
      val batch = e.filter(expr(VecNewPred))
      val wh = java.nio.file.Files.createTempDirectory("graft-graph-wh")
      val cat = new graft.lake.LakeCatalog(s, wh)
      cat.createNamespace("gx")
      graft.operators.GraphIndex.provision(cat, "gx", standing)
      graft.operators.GraphIndex.append(cat, "gx", batch)
      graft.operators.GraphIndex.retire(cat, "gx",
        standing.filter(expr("vec_id % 7 = 3")).select("vec_id"))
      graft.operators.GraphIndex.reembed(cat, "gx",
        standing.filter(expr("vec_id % 7 = 5"))
          .select(col("vec_id"), transform(col("v"), x => -x).as("v")))
      cat
    })

  val q187 = QueryDef(
    "q187_maintained_knn_graph",
    Some(knnEdgesSql(GraphMaintCorpusSql) + pruneCtesSql
      + PrunedEdgesSelectSql),
    (s, dir) => graphState(s, dir).loadTable("gx", "gedges").get.read()
      .select(col("src"), col("rank"), col("dst"),
        round(col("sim"), 4).as("sim"), col("kept"))
      // lazy cut (r20 opt): the output sort's range sampler re-ran the
      // stored-edge scan + the maintained-state probes — edge-scale
      // persist, one run (full rationale at verifyOnShingles)
      .transform(graft.Cut.lazyCut)
      .orderBy("src", "rank"))

  // ------ q188 graph search SERVED from the maintained index (X58, r19)
  /** q187 gates the stored edges; this gates their END USE: q183's
    * beam walk reading the MAINTAINED kept-edge and corpus tables (the
    * serving shape — no per-query graph build). The oracle rebuilds
    * the graph from the current corpus and replays the walk, so a
    * maintained edge that misroutes the beam — or a retired vertex
    * still navigable — changes what the search finds and how it scores
    * against exact truth. */
  val q188 = QueryDef(
    "q188_graph_index_search",
    Some(knnEdgesSql(GraphMaintCorpusSql) + pruneCtesSql + beamWalkSql),
    (s, dir) => graft.operators.GraphIndex.search(
      graphState(s, dir), "gx", "vec_id < 4", GsBeam, GsHops))

  // -- q189 hybrid retrieval served from TWO standing indexes (X63, r19)
  /** The q119 fusion shape moved onto the standing-state family: the
    * production RAG stack serves hybrid retrieval from its INDEXES, so
    * both legs here read maintained tables — the lexical top-20 is
    * [[graft.operators.Bm25Index.search]] over the q186 fixture's
    * drift-maintained inverted index, the dense top-20 is an exact
    * cosine scan of the q187 fixture's maintained graph corpus `gvec`
    * (one map pass + TakeOrdered against a broadcast one-row probe —
    * index-scale, no shuffle of the corpus), and RRF(d) =
    * Σ 1/(60 + rank) fuses them through a FULL OUTER join (a doc in
    * one list only keeps its single term — the standard Cormack
    * fusion, unlike q119's both-lists intersection). Determinism:
    * each leg's top-20 SET comes from raw-score order (the proven
    * q186/q162 parity) and ranks are ROW_NUMBER over the ROUNDED
    * scores with id tie-breaks — total orders both engines replay.
    * The oracle recomputes BOTH standing states from the current
    * corpus (the q186 BM25 chain + the q187 maintained-corpus CTE),
    * so a drifted index on EITHER leg reorders the fusion and breaks
    * the hash. */
  val q189 = QueryDef(
    "q189_hybrid_index_search",
    Some(bm25MaintChainSql + s""",
               lt AS (SELECT doc_id, ROUND(s, 4) AS score FROM p
                      ORDER BY s DESC, doc_id LIMIT 20),
               lr AS (SELECT doc_id, ROW_NUMBER() OVER
                        (ORDER BY score DESC, doc_id) AS rank_lex FROM lt),
               gv AS (SELECT vec_id, v FROM ($GraphMaintCorpusSql)
                      WHERE list_sum(list_transform(v, x -> x * x)) > 0),
               qx AS (SELECT v AS qv FROM gv WHERE vec_id = 1),
               vs AS (SELECT vec_id, ROUND(list_cosine_similarity(v, qv), 4)
                        AS sim
                      FROM gv, qx WHERE vec_id <> 1),
               vt AS (SELECT vec_id, sim FROM vs
                      ORDER BY sim DESC, vec_id LIMIT 20),
               vr AS (SELECT vec_id, ROW_NUMBER() OVER
                        (ORDER BY sim DESC, vec_id) AS rank_vec FROM vt)
               SELECT COALESCE(lr.doc_id, vr.vec_id) AS doc_id,
                      COALESCE(rank_lex, 0) AS rank_lex,
                      COALESCE(rank_vec, 0) AS rank_vec,
                      ROUND(COALESCE(1.0 / (60 + rank_lex), 0)
                        + COALESCE(1.0 / (60 + rank_vec), 0), 6) AS rrf
               FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.vec_id
               ORDER BY rrf DESC, doc_id LIMIT 10"""),
    (s, dir) => {
      val lexW = Window.orderBy(col("score").desc, col("doc_id"))
      val lr = graft.operators.Bm25Index.search(
          bm25State(s, dir), "ix", Bm25Terms, 20)
        .withColumn("rank_lex", row_number().over(lexW))
      val gvec = graphState(s, dir).loadTable("gx", "gvec").get.read()
      val qv = gvec.filter(col("vec_id") === 1).select(col("v").as("qv"))
      val vecW = Window.orderBy(col("sim").desc, col("vec_id"))
      val vr = gvec.filter(col("vec_id") =!= 1)
        .crossJoin(broadcast(qv)) // one-row probe vector
        .select(col("vec_id"),
          round(VectorOps.cosine(col("v"), col("qv")), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(20)
        .withColumn("rank_vec", row_number().over(vecW))
      lr.join(vr, col("doc_id") === col("vec_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
          coalesce(col("rank_lex"), lit(0)).as("rank_lex"),
          coalesce(col("rank_vec"), lit(0)).as("rank_vec"),
          round(coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    })

  val defs: Seq[QueryDef] = Seq(q33, q34, q35, q36, q37, q38, q39, q40, q41,
    q42, q43, q44, q46, q47, q55, q56, q57, q64, q65, q67, q68, q69,
    q70, q71, q72, q73, q74, q75, q76, q77, q78, q79, q84, q87, q89, q94,
    q96, q104, q105, q106, q117, q118, q119, q120, q125, q126, q133, q134,
    q135, q136, q137, q138, q139, q140, q147, q148, q149, q153, q155,
    q156, q161, q162, q163, q164, q165, q166, q167, q168, q169, q170, q171,
    q172, q173, q174, q175, q176, q177, q178, q179, q180, q181, q182, q183,
    q184, q185, q186, q187, q188, q189)
}
