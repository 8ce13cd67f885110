package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for the LLM-data operators (SURVEY.md §2.11
  * X3-X5): tokenization, shingling, MinHash/LSH banding, SimHash, and
  * language-ID scoring — all built from codegen-friendly built-ins and
  * higher-order functions; no UDFs, no driver-side state.
  *
  * Scale design: everything here is per-row column math. The sub-quadratic
  * part of near-dup detection is the *grouping* on band signatures
  * (candidates = bucket collisions), which shuffles O(rows × bands) small
  * tuples instead of comparing O(rows²) pairs.
  */
object TextOps {

  /** Whitespace word tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Distinct word 3-gram shingles (the near-dup unit). */
  def shingles3(tk: Column): Column =
    when(size(tk) >= 3,
      array_distinct(transform(sequence(lit(1), size(tk) - 2),
        i => concat_ws(" ",
          element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Exact Jaccard over two distinct-element arrays (the verification step
    * after LSH candidate generation). Integer-ratio double: deterministic
    * across engines. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  // ------------------------------------------------- signature hot loops
  //
  // MinHash and SimHash signatures are O(items × k) inner loops per row.
  // As higher-order-function expressions they run interpreted (~µs per
  // lambda eval → tens of ms per document) and Catalyst's
  // CollapseProject freely inlines the shingle-building expression into
  // the k-iteration lambda, multiplying the work by k again. These two
  // stages therefore run as typed mapPartitions — compiled JVM loops,
  // evaluated exactly once per row — which is the documented escape
  // hatch for genuine per-row imperative hot loops. Candidate
  // generation (the part that must scale) stays declarative: groupBy /
  // join on the emitted (band, signature) tuples.

  /** Two independent 32-bit hashes of a string, combined per index i as
    * h1 + i·h2 (classic double hashing) — k hash families for one hash
    * cost. */
  @inline private def hash2(s: String): (Long, Long) = (
    scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c).toLong,
    scala.util.hashing.MurmurHash3.stringHash(s, 0x85ebca6b).toLong | 1L)

  /** JVM twin of tokens+shingles3: identical shingle *set* (the HOF form
    * remains as the declarative cross-check used by the specs; this one
    * feeds the signature and verification hot loops). */
  def shingleSet(text: String): Array[String] = {
    // Locale.ROOT: the HOF twin uses Spark's locale-independent lower();
    // a tr_TR-default executor would otherwise shingle "TITLE" as "tıtle"
    // and signatures would diverge machine-by-machine
    val tk = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
    if (tk.length < 3) Array.empty
    else Array.tabulate(tk.length - 2)(i =>
      tk(i) + " " + tk(i + 1) + " " + tk(i + 2)).distinct
  }

  /** Doc-local repetition counters over one token array, computed in a
    * single compiled pass (r20 optimization round, guide §2.4/§4):
    * (total, uniq, topw, n2, u2, n3, u3) = token count, distinct
    * tokens, top token frequency, bigram/trigram counts and their
    * distinct counts. q69/q166 used to assemble these per-document
    * numbers from a corpus explode through (doc, w) and (doc)
    * aggregates plus interpreted n-gram transform lambdas — two
    * exchanges and a join for what one HashMap per row computes
    * locally. Gram spelling matches the declarative twin
    * (`concat(tk[i], ' ', tk[i+1])`). */
  private[graft] def repCounters(
      tk: Array[String]): (Long, Long, Long, Long, Long, Long, Long) = {
    val n = tk.length
    val cnt = new java.util.HashMap[String, Long]()
    var topw = 0L
    var i = 0
    while (i < n) {
      val c = cnt.merge(tk(i), 1L, (a, b) => a + b)
      if (c > topw) topw = c
      i += 1
    }
    val g2 = new java.util.HashSet[String]()
    i = 0
    while (i < n - 1) { g2.add(tk(i) + " " + tk(i + 1)); i += 1 }
    val g3 = new java.util.HashSet[String]()
    i = 0
    while (i < n - 2) { g3.add(tk(i) + " " + tk(i + 1) + " " + tk(i + 2)); i += 1 }
    (n.toLong, cnt.size.toLong, topw,
      math.max(n - 1, 0).toLong, g2.size.toLong,
      math.max(n - 2, 0).toLong, g3.size.toLong)
  }

  /** Per-partition Misra–Gries heavy-hitter CANDIDATES (k counters per
    * partition): the sketch half of q117's sketch-then-recount. The
    * pigeonhole guarantee: any item with global frequency > n/s (for any
    * support s < k) exceeds n_p/s in at least one partition, and MG with
    * k > s counters cannot evict it there — so the candidate union is a
    * SUPERSET of the true heavy hitters under EVERY partitioning, and an
    * exact recount over the candidates restores a partitioning-
    * independent result. Output is ≤ k rows per partition. */
  def mgCandidates(toks: org.apache.spark.sql.Dataset[String], k: Int)
      : org.apache.spark.sql.Dataset[String] = {
    import toks.sparkSession.implicits._
    toks.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { w =>
        m.get(w) match {
          case Some(c) => m.update(w, c + 1)
          case None if m.size < k => m.update(w, 1L)
          case None => // MG decrement step: new item absorbed at count 0
            val dead = m.iterator.collect { case (t0, 1L) => t0 }.toList
            m.mapValuesInPlace((_, c) => c - 1)
            dead.foreach(m.remove)
        }
      }
      m.keysIterator
    }
  }

  /** Small inputs arrive as one file split; fan the CPU-bound signature
    * loop out to all cores. (At scale the source already has enough
    * splits and this is a no-op.) */
  private def parallelized(docs: DataFrame): DataFrame = {
    val target = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < target) docs.repartition(target) else docs
  }

  /** (doc_id, sh) → one row per (doc_id, band, sig): k minhashes over an
    * already-shingled table, banded `bands` × `rowsPerBand` — the
    * one-checkpointed-shingle-pass shape (see
    * [[simhashBandsFromShingles]]). One compiled pass per document. */
  def minhashBandsFromShingles(
      docsSh: DataFrame, bands: Int = 64, rowsPerBand: Int = 2): DataFrame = {
    val spark = docsSh.sparkSession
    import spark.implicits._
    // explicit projection: the shingle table may carry extra columns
    // (e.g. the precomputed `bytes` budget column)
    parallelized(docsSh.select("doc_id", "sh")).as[(Long, Seq[String])]
      .flatMap { case (id, sh) =>
        minhashRows(id, sh.toArray, bands, rowsPerBand)
      }.toDF("doc_id", "band", "sig")
  }

  private def minhashRows(id: Long, sh: Array[String], bands: Int,
      rowsPerBand: Int): Seq[(Long, Int, Long)] = {
    val k = bands * rowsPerBand
    if (sh.isEmpty) Nil // can't be a near-dup; would bucket with every other empty doc
    else {
      val mins = Array.fill(k)(Long.MaxValue)
      sh.foreach { s =>
        val (h1, h2) = hash2(s)
        // h1 + i·h2 built incrementally — identical values under Long
        // wraparound, one add instead of a multiply per family
        var h = h1
        var i = 0
        while (i < k) {
          if (h < mins(i)) mins(i) = h
          h += h2
          i += 1
        }
      }
      (0 until bands).map { b =>
        var sig = 17L
        var r = 0
        while (r < rowsPerBand) { sig = sig * 31 + mins(b * rowsPerBand + r); r += 1 }
        (id, b, sig)
      }
    }
  }

  /** (doc_id, sh) → one row per (doc_id, band, sig): 64-bit SimHash
    * over the shingle set (sign of per-bit ±1 sums of shingle hashes),
    * banded into `bands` × (64/bands)-bit values. Shingles rather than
    * raw tokens: shared-vocabulary corpora make whole-doc token sets
    * collide across unrelated documents. Takes an already-shingled
    * table so callers checkpoint ONE shingle pass and feed it to
    * banding, lossless supplements and exact verify alike (q35's r15
    * shape; re-shingling per consumer doubled its corpus passes). */
  def simhashBandsFromShingles(docsSh: DataFrame, bands: Int = 8): DataFrame = {
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 (got $bands): 0 divides by zero, >64 makes " +
        "every signature 0 (corpus-wide bucket collision), non-divisors " +
        "silently drop the top hash bits")
    val spark = docsSh.sparkSession
    import spark.implicits._
    val bitsPerBand = 64 / bands
    parallelized(docsSh.select("doc_id", "sh")).as[(Long, Seq[String])]
      .flatMap { case (id, sh) =>
        if (sh.isEmpty) Nil
        else simhashRows(id, sh.toArray, bands, bitsPerBand)
      }.toDF("doc_id", "band", "sig")
  }

  private def simhashRows(
      id: Long, sh: Array[String], bands: Int, bitsPerBand: Int): Seq[(Long, Int, Long)] = {
    val counts = new Array[Int](64)
    sh.foreach { t =>
      val (h1, h2) = hash2(t)
      val h = (h1 << 32) | (h2 & 0xffffffffL)
      var j = 0
      while (j < 64) {
        counts(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
    }
    (0 until bands).map { b =>
      var sig = 0L
      var j = 0
      while (j < bitsPerBand) {
        sig = (sig << 1) | (if (counts(b * bitsPerBand + j) > 0) 1L else 0L)
        j += 1
      }
      (id, b, sig)
    }
  }

  // ------------------------------------------------------------ lang-ID

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic
    * (X5). Deliberately small and disjoint-ish; the classifier is the
    * machinery under test, not a linguistics claim. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "los", "y", "es", "un", "una", "en", "que", "se", "por"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "il", "pour", "sur", "au"))

  def stopwordHits(tk: Column, words: Seq[String]): Column =
    size(filter(tk, t => t.isInCollection(words)))

  /** argmax over language scores with a fixed preference order
    * (en > de > es > fr) for deterministic ties; zero hits → "unknown". */
  def predictedLang(tk: Column): Column = {
    val h = Stopwords.map { case (lang, words) => lang -> stopwordHits(tk, words) }.toMap
    when(h("en") >= h("de") && h("en") >= h("es") && h("en") >= h("fr") && h("en") > 0, "en")
      .when(h("de") >= h("es") && h("de") >= h("fr") && h("de") > 0, "de")
      .when(h("es") >= h("fr") && h("es") > 0, "es")
      .when(h("fr") > 0, "fr")
      .otherwise("unknown")
  }

  /** The same argmax as a DuckDB SQL expression over a token-list column
    * `tk` — the oracle side of the lang-ID query. */
  def predictedLangDuckSql(tk: String): String = {
    def hits(words: Seq[String]) =
      s"len(list_filter($tk, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
    val h = Stopwords.map { case (lang, words) => lang -> hits(words) }.toMap
    s"""CASE
        WHEN ${h("en")} >= ${h("de")} AND ${h("en")} >= ${h("es")} AND ${h("en")} >= ${h("fr")} AND ${h("en")} > 0 THEN 'en'
        WHEN ${h("de")} >= ${h("es")} AND ${h("de")} >= ${h("fr")} AND ${h("de")} > 0 THEN 'de'
        WHEN ${h("es")} >= ${h("fr")} AND ${h("es")} > 0 THEN 'es'
        WHEN ${h("fr")} > 0 THEN 'fr'
        ELSE 'unknown' END"""
  }

  // ------------------------------------------------------- BPE encode
  /** Pinned BPE merge table, RANK ORDER. The invariant that makes
    * rank-order application ≡ true greedy BPE (and therefore makes the
    * SQL REPLACE-chain oracle exact): each pair's parts are base
    * characters or outputs of STRICTLY LOWER ranks, so once rank r has
    * been applied exhaustively no lower-rank pair can ever reappear —
    * a symbol that would recreate it is only minted by a later rank.
    * q79 is the distributed TRAINING kernel (pair counting); this table
    * is the pinned-config application side, the q37-planes pattern. */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("e", "s"), ("s", "t"), ("in", "g"), ("o", "u"),
    ("l", "e"))

  /** How many exhaustive passes one merge needs: each left-to-right
    * non-overlapping pass merges every other occurrence of a run, so
    * ⌈log₂⌉ passes close runs up to 2^6 pairs — beyond any word the
    * corpus tokenizer emits. BOTH engines apply exactly this many
    * passes (Java `String.replace` and DuckDB `REPLACE` are both
    * leftmost-non-overlapping), so the transformation is identical
    * by construction, not merely equivalent. */
  val BpePasses = 6

  /** BPE-encode one word under [[BpeMerges]]: symbols start as single
    * characters in a space-sentinel string, each merge applies as
    * [[BpePasses]] literal replaces in rank order. Returns the symbol
    * count (the token count the q155 measure aggregates). Verified
    * against an independent greedy best-rank-first implementation in
    * LlmOpsSpec — the rank-order spelling IS greedy BPE under the
    * [[BpeMerges]] invariant. */
  def bpeTokenCount(word: String): Int = bpeTokenCount(word, BpeMerges)

  /** Same encoder under an arbitrary rank-ordered merge table — the
    * application side for TRAINED tables ([[graft.operators.BpeTrainer]]
    * output satisfies the rank-invariant by construction, so rank-order
    * application stays ≡ greedy; BpeTrainerSpec proves it). */
  def bpeTokenCount(word: String, merges: Seq[(String, String)]): Int = {
    var s = " " + word.map(_.toString).mkString(" ") + " "
    merges.foreach { case (a, b) =>
      val pat = s" $a $b "
      val rep = s" $a$b "
      var i = 0
      while (i < BpePasses) { s = s.replace(pat, rep); i += 1 }
    }
    var n = 0
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') n += 1; i += 1 }
    n - 1 // k symbols carry k+1 spaces in the sentinel form
  }
}
