package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.chaining._
import org.apache.spark.sql.expressions.Window
import graft.etl.Star.{round2Sql, round4, round4Sql, round2}
import TextCore._

/** Text-analysis operator family over `documents` (driver-mandated
  * LLM-data-pipeline surface, SURVEY.md §7.6; machinery shared with the
  * reference's regex-ETL analog via [[TextCore]]).
  *
  *  - q40: language-ID heuristic — function-word hit ratio (the n-gram/
  *    stopword heuristic shape; the synthetic corpus is one vocabulary so
  *    the prediction is constant, but the machinery is the point).
  *  - q41: per-language token statistics (docs, tokens, distinct tokens).
  *  - q42: per-document quality score (type-token ratio, mean word length,
  *    stopword ratio, length saturation).
  *  - q43: document fingerprints (min-shingle-hash + sorted-bag md5).
  *  - q44: BPE-ish regex tokenization, corpus top-20 token frequencies.
  *
  * All per-document features are higher-order array expressions (map-side,
  * no shuffle); only the corpus aggregations (q41, q44) shuffle, on narrow
  * (lang / token) keys. Ratios are single exact divisions; weighted scores
  * evaluate the same literal expression tree in both engines.
  */
object TextStats {
  type Q = (SparkSession, String) => DataFrame

  private val stopwords = Seq("the", "a", "of", "to", "in", "and", "is", "on")
  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  /** q40: stopword-ratio language ID. */
  val q40_lang_id: Q = (s, d) => {
    val hits = size(filter(col("words"), w => w.isin(stopwords: _*)))
    val ratio = when(size(col("words")) === 0, 0.0)
      .otherwise(hits.cast("double") / size(col("words")).cast("double"))
    docShingles(s, d)
      .select(col("doc_id"), round4(ratio).as("en_ratio"),
        when(ratio >= 0.05, "en").otherwise("und").as("pred_lang"))
      .orderBy("doc_id")
  }

  /** q41: per-language corpus token statistics. */
  val q41_token_stats: Q = (s, d) =>
    docShingles(s, d)
      .select(col("doc_id"), col("lang"), explode(col("words")).as("word"))
      .groupBy("lang")
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct("word").as("n_distinct"))
      .withColumn("avg_tokens_per_doc",
        round2(col("n_tokens").cast("double") / col("n_docs").cast("double")))
      .orderBy("lang")

  /** docShingles + n_tokens/ttr/avg_wlen/stop_ratio/score columns —
    * shared by q42 and the composite pipeline (q57). */
  def withQuality(docs: DataFrame): DataFrame = {
    val nTok = size(col("words"))
    val ttr = round4(size(array_distinct(col("words"))).cast("double") / nTok.cast("double"))
    val avgWlen = round4(
      aggregate(col("words"), lit(0), (acc, w) => acc + length(w)).cast("double") /
        nTok.cast("double"))
    val stopRatio = round4(
      size(filter(col("words"), w => w.isin(stopwords: _*))).cast("double") /
        nTok.cast("double"))
    docs
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("ttr", ttr)
      .withColumn("avg_wlen", avgWlen)
      .withColumn("stop_ratio", stopRatio)
      .withColumn("score", round4(
        lit(0.5) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.2) * least(col("n_tokens").cast("double") / 64.0, lit(1.0))))
  }

  /** q42: per-document quality score. */
  val q42_quality_score: Q = (s, d) =>
    withQuality(docShingles(s, d))
      .select("doc_id", "n_tokens", "ttr", "avg_wlen", "stop_ratio", "score")
      .orderBy("doc_id")

  /** q249: QUANTILE-UNIFORM transform of the quality score — the
    * rank-normalization feature prep applies before mixing scores
    * across languages: each doc's score maps to its per-language
    * mid-rank empirical CDF position in integer basis points,
    * u = (2·rank_below + ties) · 10000 div (2·n), so a 0.61 in a
    * language whose scores cluster high and a 0.61 in one that
    * clusters low land where they actually sit in their own
    * distributions. Ties share one u (mid-rank), the transform is
    * monotone in score, and everything is integer once the histogram
    * is built. The SCALE shape is the point (the q82/q184 rule): no
    * per-language window ever runs over documents — ranks come from
    * the (lang, score) VALUE HISTOGRAM (round4 scores: ≤ 10⁴ distinct
    * values per language regardless of corpus size), whose cumulative
    * windows scan histogram rows, and docs get their u by an equi-join
    * back on the broadcastable histogram. */
  lazy val q249_quantile_uniform: Q = (s, d) => {
    val scored = withQuality(docShingles(s, d))
      .where(col("n_tokens") > 0)
      .select(col("doc_id"), col("lang"), col("score"))
    val hist = scored.groupBy("lang", "score").agg(count(lit(1)).as("cnt"))
    val wOrd = Window.partitionBy("lang").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("cb", coalesce(sum(col("cnt")).over(wOrd), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("lang")))
    scored.join(cum, Seq("lang", "score"))
      .select(col("doc_id"), col("lang"), col("score"),
        expr("(2 * cb + cnt) * 10000 div (2 * n)").as("u_bp"))
      .orderBy("doc_id")
  }

  /** q250: TOKEN-MASS quantiles — q72 asks "the median DOCUMENT is
    * how long"; a training-budget owner asks the dual: "half my
    * TOKENS live in documents longer than what?" — the length
    * distribution weighted by the tokens themselves (mass p50/p90/p99),
    * the number that decides packing geometry and long-context mix.
    * On any heavy-tailed corpus the two answers diverge wildly (a few
    * long docs carry most of the mass); shipping both is the point.
    * Integer exact: cumulative token mass over the LENGTH HISTOGRAM
    * (one row per distinct n_tokens — value-domain-bounded, never the
    * doc count), quantile = the smallest length whose cumulative mass
    * clears p% of the total by cross-multiplication (`cw·100 ≥ tw·p`),
    * selected per percentile as a struct-min (the q199 encoding rule,
    * fields (len, cw) with len unique in the histogram). */
  lazy val q250_token_mass_quantiles: Q = (s, d) => {
    val hist = docShingles(s, d)
      .select(size(col("words")).cast("long").as("len"))
      .where(col("len") > 0)
      .groupBy("len").agg(sum(col("len")).as("w"))
    val wOrd = Window.orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = graft.Ckpt.persisted(
      hist.withColumn("cw", sum(col("w")).over(wOrd)))
    val tot = cum.agg(max(col("cw")).as("tw"))
    cum.crossJoin(broadcast(tot)) // histogram × 1-row
      .select(explode(array(lit(50L), lit(90L), lit(99L))).as("pct"),
        col("len"), col("cw"), col("tw"))
      .where(col("cw") * 100 >= col("tw") * col("pct"))
      .groupBy("pct")
      .agg(min(struct(col("len"), col("cw"))).as("m"), max(col("tw")).as("total_tokens"))
      .select(col("pct"), col("m.len").as("len_at"),
        col("m.cw").as("cum_tokens"), col("total_tokens"))
      .orderBy("pct")
  }

  /** q43: document fingerprints — k=1 MinHash over 3-shingles plus an
    * order-insensitive sorted-bag md5. */
  val q43_fingerprint: Q = (s, d) =>
    docShingles(s, d)
      .select(col("doc_id"),
        array_min(col("sh_md5")).as("fp_minshingle"),
        md5(array_join(array_sort(array_distinct(col("words"))), " ")).as("fp_bag"))
      .orderBy("doc_id")

  private val tokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** q44: regex (BPE-ish) tokenization, corpus top-20 tokens. */
  val q44_bpe_tokens: Q = (s, d) =>
    docShingles(s, d)
      .select(explode(regexp_extract_all(col("norm"), lit(tokenPattern), lit(0))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(20)

  /** q64: TF-IDF-style term salience — each document's 3 rarest distinct
    * shingles by corpus document frequency (ties broken by shingle text).
    * The df aggregation shuffles on the shingle key with map-side partial
    * counts; the per-doc rank is a window over the doc_id partition — the
    * same scale shape as the PPJoin prefix stage. */
  val q64_rare_terms: Q = (s, d) => {
    // shingles3 already returns a distinct sorted array — explode directly
    val postings = docShingles(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val dfreq = postings.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    postings.join(dfreq, "shingle")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("shingle"), col("df"))
      .orderBy("doc_id", "rnk")
  }

  private val chunkSize = 32
  private val chunkStride = 24 // 8-token overlap between consecutive chunks

  /** q65: fixed-window document chunking — split each document's token
    * stream into 32-token windows every 24 tokens (8-token overlap), the
    * canonical segmentation step of an LLM training-data pipeline.
    * Entirely map-side: chunk starts are a per-row `sequence`, the window
    * is a `slice`, no shuffle until the final deterministic sort. Chunk
    * text is reported as an md5 so the oracle compares fixed-width values.
    * Zero-token documents produce no chunks (matched WHERE in both
    * engines). */
  val q65_chunk_docs: Q = (s, d) =>
    docShingles(s, d)
      .select(col("doc_id"), col("words"), size(col("words")).cast("long").as("n"))
      .where(col("n") > 0)
      .withColumn("start", explode(sequence(lit(0L), col("n") - 1L, lit(chunkStride.toLong))))
      .withColumn("chunk", slice(col("words"), col("start").cast("int") + 1, lit(chunkSize)))
      .select(col("doc_id"),
        (col("start") / chunkStride).cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  /** q66: chunk-granularity exact dedup over the q65 windows —
    * boilerplate detection: a chunk hash appearing in multiple documents
    * is templated text (headers, licenses, navigation). Narrow-key
    * (md5) shuffle, same scale shape as q31. */
  val q66_chunk_dedup: Q = (s, d) =>
    q65_chunk_docs(s, d)
      .groupBy("chunk_md5")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_chunks"))
      .where(col("n_docs") > 1)
      .orderBy("chunk_md5")

  /** q71: balanced per-language sample — up to 100 docs per language,
    * chosen by md5-of-id order (a deterministic shuffle: reproducible
    * across runs/engines/cluster sizes, unlike TABLESAMPLE/rand()).
    * The per-group rank is a window over the lang partition; at scale
    * this is the standard balanced-subset op for eval-set curation. */
  val q71_balanced_sample: Q = (s, d) => {
    val w = Window.partitionBy("lang").orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docShingles(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 100)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .orderBy("lang")
  }

  /** q72: exact token-length percentiles per language — p50/p90/p99 as
    * the value at rank ceil(q·n) under the total order (n_tokens,
    * doc_id). Exact rank selection, not approx_percentile: the
    * cross-engine gate needs value-identical results, and at scale the
    * per-language sort is a partitioned window, not a global one. */
  val q72_token_percentiles: Q = (s, d) => {
    val base = docShingles(s, d)
      .select(col("doc_id"), col("lang"), size(col("words")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang").orderBy(col("n_tokens"), col("doc_id"))
    val ranked = base
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")).cast("long"))
    def pct(q: Double, name: String) =
      max(when(col("rnk") === ceil(col("n") * q).cast("long"), col("n_tokens"))).as(name)
    ranked.groupBy("lang")
      .agg(max(col("n")).as("n_docs"), pct(0.5, "p50"), pct(0.9, "p90"), pct(0.99, "p99"))
      .orderBy("lang")
  }

  /** q91: the scale path for q72 — `percentile_approx` (the mergeable
    * GK-sketch aggregate that needs no per-language sort) with a
    * FALSIFIABLE accuracy claim: the sketch's p50/p90 must land inside
    * the exact [p45, p55] / [p85, p95] rank bands, which BOTH engines
    * compute exactly. The oracle emits the literal claim (1): if a Spark
    * upgrade or accuracy change ever pushed the sketch outside the band,
    * the Spark side would emit 0 and the hash gate would fail — the same
    * measured-accuracy contract as q58/q60/q63/q85, adapted to a sketch
    * the oracle engine cannot reproduce bit-for-bit. */
  val q91_token_pctl_approx: Q = (s, d) => {
    val base = docShingles(s, d)
      .select(col("doc_id"), col("lang"), size(col("words")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang").orderBy(col("n_tokens"), col("doc_id"))
    val ranked = base
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")).cast("long"))
    def pct(q: Double, name: String) =
      max(when(col("rnk") === ceil(col("n") * q).cast("long"), col("n_tokens"))).as(name)
    ranked.groupBy("lang")
      .agg(max(col("n")).as("n_docs"),
        pct(0.45, "p45"), pct(0.5, "p50"), pct(0.55, "p55"),
        pct(0.85, "p85"), pct(0.9, "p90"), pct(0.95, "p95"),
        percentile_approx(col("n_tokens"), lit(0.5), lit(100)).as("a50"),
        percentile_approx(col("n_tokens"), lit(0.9), lit(100)).as("a90"))
      .select(col("lang"), col("n_docs"), col("p50"), col("p90"),
        when(col("a50").between(col("p45"), col("p55")) &&
          col("a90").between(col("p85"), col("p95")), 1L).otherwise(0L)
          .as("approx_within_rank_band"))
      .orderBy("lang")
  }

  /** q76: Gopher-style repetition quality filter (Rae et al. 2021 §A1.1
    * use the same family of signals: fraction of the text covered by the
    * most frequent n-gram, and by duplicated n-grams) — per doc,
    * `top2_frac` = occurrences of the most frequent word 2-gram / total
    * 2-grams, `dup3_frac` = occurrences belonging to duplicated word
    * 3-grams / total 3-grams, and the keep/drop decision at (0.05, 0.05)
    * — thresholds sit between the corpus median and p99 so both branches
    * are exercised. Thresholds compare the RAW ratios (rounding only the
    * output, per the determinism rules). Scale shape: explode → count per
    * (doc, gram) → per-doc agg, i.e. shuffles on (doc_id, gram) then
    * doc_id — no global structure, no windows. Docs with < 3 words have
    * no 3-grams and are excluded (none in this corpus). */
  val q76_repetition_filter: Q = (s, d) => {
    val base = docShingles(s, d).select(col("doc_id"), col("words"))
      .where(size(col("words")) >= 3)
    def grams(n: Int) = base.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("words")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(col("words"), i + k)): _*))).as("g"))
    val t2 = grams(2).groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top2"), sum("c").as("n2"))
    val t3 = grams(3).groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup3"), sum("c").as("n3"))
    val top2Frac = col("top2").cast("double") / col("n2").cast("double")
    val dup3Frac = col("dup3").cast("double") / col("n3").cast("double")
    t2.join(t3, "doc_id")
      .select(col("doc_id"),
        round4(top2Frac).as("top2_frac"),
        round4(dup3Frac).as("dup3_frac"),
        when(top2Frac <= 0.05 && dup3Frac <= 0.05, 1L).otherwise(0L).as("keep_doc"))
      .orderBy("doc_id")
  }

  /** q94: TF-IDF top terms — each document's 3 highest-scoring WORD terms
    * under score = tf · (N/df): term frequency in the doc times inverse
    * document frequency. The idf is the raw ratio, not log(N/df): the
    * ranking is identical (x ↦ log x is monotone) and the score stays a
    * single IEEE multiply+divide, bit-identical across engines — libm log
    * carries a ulp of slack (the q84 sqrt-not-pow rule). Complements q64
    * (df-ranked rare shingles): q94 weighs how much a doc USES a term, not
    * just how rare it is.
    *
    * Scale shape: tf shuffles on (doc_id, term); the df table is
    * vocabulary-sized and BROADCAST back onto tf (no second shuffle — at
    * 100 TB the vocabulary is millions of rows, the postings billions);
    * the top-3 window partitions by doc_id. */
  val q94_tfidf_terms: Q = (s, d) => {
    val toks = docShingles(s, d)
      .select(col("doc_id"), explode(col("words")).as("term"))
      .where(col("term") =!= "") // split("") yields [""] — not a term
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = docShingles(s, d).agg(count(lit(1)).as("n_corpus"))
    val score =
      col("tf").cast("double") * col("n_corpus").cast("double") / col("df").cast("double")
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nd))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        round4(col("score")).as("score"))
      .orderBy("doc_id", "rank")
  }

  /** q96: BPE training's first merge table — corpus-wide frequencies of
    * adjacent character pairs within words, top 10 by (freq desc, pair
    * asc): the statistic the first iteration of byte-pair-encoding
    * tokenizer training merges on (q102 drives the full training loop).
    * Complements q44, which applies a FIXED tokenizer; q96 is the
    * first step of LEARNING one. Pairs are extracted map-side with a
    * per-word index transform (guarded at length ≥ 2 — `sequence(1, 0)`
    * counts down); the only shuffle is the (pair) count, 2-char keys; the
    * top-10 cut is orderBy+limit (`TakeOrderedAndProject` — per-partition
    * top-k then a driver merge, no global sort), the q44 shape. */
  val q96_bpe_merge_pairs: Q = (s, d) =>
    // r19: folds from the memoized unigram TYPE counts — a word's
    // adjacent char pairs are a per-type function, so the corpus pair
    // frequency is Σ over types of cw × (pairs of w): the per-rep
    // corpus explode becomes a vocabulary-sized pass (the same
    // count-weighted trick BPE training itself uses in bpeVocab0)
    unigramCounts(s, d)
      .where(length(col("w")) >= 2)
      .select(col("cw"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("cw").as("freq"))
      .orderBy(col("freq").desc, col("pair").asc)
      .limit(10)

  private[graft] val bpeMerges = 6

  /** q102: BPE tokenizer TRAINING — q96's first merge driven to a learned
    * merge SEQUENCE: k = 6 iterations of (count adjacent symbol pairs →
    * merge the most frequent everywhere → recount), the q61/q101 driver-
    * loop shape. Output: (step, left, right, freq) — the merge table a
    * tokenizer ships.
    *
    * Scale shape: training state is the VOCABULARY with counts (the
    * classic BPE trick — one corpus pass builds (word, count), every
    * iteration after that is vocabulary-sized, shuffling on 2-symbol
    * keys; the corpus is never re-read). Words are represented as
    * boundary-delimited symbol strings (`|a||b||c|`), so applying a merge
    * is ONE literal string replace — non-overlapping left-to-right in
    * both engines, which IS greedy BPE application (a merged symbol
    * cannot re-match inside the same pass) — and symbol boundaries can't
    * false-match across symbols. The vocab is restricted to purely
    * alphabetic words so the delimiter never collides with a symbol.
    * Top-1 selection ties break on (freq desc, l, r) — compared as
    * separate columns, since '|' sorts above 'z' and would skew a joined-
    * string order. Per iteration the vocab is localCheckpoint'd (the q61
    * lineage rule) and only the 1-row argmax reaches the driver. */
  /** The trained tokenizer artifact — (merge sequence, final vocab):
    * q102 reports the merges, q104 applies the vocab; training runs once
    * per session, charged to whichever runs first (the q61/q81 memo
    * precedent — in the sorted bench order, q102 pays). The vocab
    * DataFrame (the part that pins localCheckpoint'd RDD blocks) lives in
    * [[graft.SessionMemo]] under the registered "bpe:" namespace, so
    * block-lifetime accounting stays in one place; only the small merge
    * Vector — plain driver data, no Spark state — is memoized locally.
    * Training produces both atomically inside the SessionMemo build, so
    * the merge map is always populated before the vocab is served from
    * cache. Each iteration's vocab is already localCheckpoint'd, so the
    * cached final frame needs no further materialization (identity). */
  private val bpeMergeMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Vector[(Long, String, String, Long)]]

  private def bpeTrained(s: SparkSession, d: String)
      : (Vector[(Long, String, String, Long)], DataFrame) =
    bpeTrainedOn(s, d, "vocab", lit(true))

  /** [[bpeTrained]] over a doc subset — q106 trains on the q70 TRAIN
    * split only, so held-out application measures generalization, not
    * memorization. The memo key DERIVES from (label, filter SQL, merge
    * count), so a caller reusing a label with a different filter or k
    * gets its own cache entry — never another filter's vocab (r8
    * ADVICE: the old caller-supplied key made that a silent hazard). */
  /** The symbolized word-count frame BPE training starts from —
    * r19: folded from [[wordIdCells]] (the doc subset arrives as a
    * predicate over the q70 id bucket `ib`, the only subset any
    * trainer uses), so the one-time bpe memo builds are a
    * vocabulary-sized fold instead of their own corpus explode.
    * Per-word counts over an ib slice fold exactly (buckets partition
    * docs); the word filter commutes with the type grouping. */
  private def bpeVocab0(s: SparkSession, d: String, ibFilter: Column): DataFrame =
    wordIdCells(s, d).where(ibFilter)
      .where(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(sum("cw").as("cnt"))
      .select(concat(lit("|"), array_join(split(col("w"), ""), "||"), lit("|"))
        .as("sym"), col("cnt"))

  /** Adjacent-pair frequency table of a symbolized vocab — the one
    * vocabulary-sized job each training pass pays. */
  private def bpePairCounts(vocab: DataFrame): DataFrame = {
    val syms = split(regexp_replace(col("sym"), "^\\||\\|$", ""), "\\|\\|")
    vocab
      .select(col("cnt"), syms.as("sy"))
      .where(size(col("sy")) >= 2) // sequence(1, 0) counts down (q96)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("sy")) - 1),
        i => struct(element_at(col("sy"), i).as("l"),
          element_at(col("sy"), i + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("cnt").as("freq"))
  }

  private def bpeTrainedOn(s: SparkSession, d: String, label: String,
      ibFilter: Column): (Vector[(Long, String, String, Long)], DataFrame) = {
    val fSig = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${ibFilter.toString}|k=$bpeMerges".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val memoKey = s"bpe:$label:$fSig"
    val vocabFinal = graft.SessionMemo(s, d, memoKey) {
      var vocab = bpeVocab0(s, d, ibFilter).localCheckpoint(true)
      var merges = Vector.empty[(Long, String, String, Long)]
      var done = false
      for (step <- 1 to bpeMerges if !done) {
        val top = bpePairCounts(vocab)
          .orderBy(col("freq").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.isEmpty) done = true // every word is one symbol: nothing to merge
        else {
          val (l, r, f) = (top(0).getAs[String]("l"), top(0).getAs[String]("r"),
            top(0).getAs[Long]("freq"))
          merges = merges :+ ((step.toLong, l, r, f))
          val prev = vocab
          vocab = vocab.select(
            replace(col("sym"), lit(s"|$l||$r|"), lit(s"|$l$r|")).as("sym"),
            col("cnt")).localCheckpoint(true)
          // the new vocab is materialized; its predecessor is dead (the
          // FINAL vocab is the memoized artifact and is never dropped)
          graft.Ckpt.drop(prev)
        }
      }
      bpeMergeMemo((s, d, memoKey)) = merges
      vocab
    }(identity)
    (bpeMergeMemo((s, d, memoKey)), vocabFinal)
  }

  /** BATCHED BPE training — the scale path the sequential loop's probe
    * curve (SURVEY §8: ~one vocabulary-sized job per merge) demands for
    * a real 10⁴–10⁵-merge run: each PASS collects the frozen pair-count
    * table once, greedily selects up to `batch` pairwise-DISJOINT pairs
    * from it (no symbol shared between any two selected pairs, and no
    * selected pair's merged symbol colliding with another's operand —
    * so within the pass each replace is invariant to the others and the
    * frozen counts are the true counts for every selected pair), and
    * applies them in ONE projection + checkpoint — dividing the job
    * count by up to `batch`. What batching gives up, stated precisely:
    * sequential greedy recounts after every merge, so a pair CREATED by
    * an earlier merge in the same pass (one involving the new symbol)
    * could outrank the pass's later picks; disjoint picks' own counts
    * are exact, only the between-merge re-ranking is coarsened — and
    * `batch = 1` degenerates to exactly the sequential trainer
    * (spec-pinned on the corpus). Candidate pool: `8 × batch` top rows —
    * plenty, since ≥ half of any prefix is always selectable (each pick
    * blocks pairs sharing its 3 symbol strings). */
  private[graft] def bpeTrainBatched(s: SparkSession, d: String, numMerges: Int,
      batch: Int, ibFilter: Column = lit(true))
      : Vector[(Long, String, String, Long)] =
    bpeTrainBatchedStats(s, d, numMerges, batch, ibFilter)._1

  /** Per-pass accounting for [[bpeTrainBatched]]: for each pass, the
    * candidate-pool size it saw (≤ 8·batch; smaller = the pair table
    * itself is running dry) and the picks the disjointness filter
    * admitted. The starvation spec reads these to SEPARATE two very
    * different underfills: a full pool picking < batch/2 is true
    * disjointness starvation (the documented re-rank fallback would be
    * required); a shrunken
    * pool underfilling is corpus exhaustion — the same early-stop the
    * sequential trainer hits, no fallback applicable. */
  final case class BpePassStats(poolSize: Int, picks: Int)

  /** [[bpeTrainBatched]] plus its per-pass stats.
    *
    * `refill` is the starvation fallback (r10 verdict item 3, measured
    * trigger: a NARROW symbol space — e.g. a letters-only vocabulary —
    * makes the top of the ranked pool dense over few symbols, so the
    * disjointness filter admits ≪ batch picks; the sf0.1 probe measured
    * 8/32 on the first b = 32 pass). With refill on, a pass that
    * underfills RE-RANKS WITHIN THE PASS: apply the picks so far,
    * recount, and keep picking until the pass quota is met or the pair
    * table is dry. Each sub-round pays one extra vocabulary-sized job —
    * only when starvation actually bit, so the job bound degrades from
    * ⌈k/b⌉ toward the sequential k only under adversarial symbol
    * density, never on a real 10⁴+-symbol corpus. Default OFF: the
    * gated q138 semantics (one frozen pool per pass, underfill carried)
    * are unchanged, and its oracle replays exactly that. */
  private[graft] def bpeTrainBatchedStats(s: SparkSession, d: String,
      numMerges: Int, batch: Int, ibFilter: Column = lit(true),
      refill: Boolean = false)
      : (Vector[(Long, String, String, Long)], Vector[BpePassStats]) = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    var vocab = graft.Ckpt.eager(bpeVocab0(s, d, ibFilter))
    var merges = Vector.empty[(Long, String, String, Long)]
    var done = false
    // the pass count is FIXED at ceil(k/b): bounded driver-loop jobs is
    // the contract batching exists for, and it is what the q138 oracle
    // unrolls. A pass whose disjointness filter underfills (one hot
    // symbol blocking the pool) therefore yields fewer than k merges —
    // the same early-stop surface the sequential trainer has on an
    // exhausted pair table, and both engines underfill identically
    // because they scan the same frozen ranked pool. (`refill` trades
    // extra in-pass jobs to fill the quota anyway — see above.)
    val nPass = (numMerges + batch - 1) / batch
    var pass = 0
    var stats = Vector.empty[BpePassStats]
    while (pass < nPass && merges.size < numMerges && !done) {
      pass += 1
      var passPicks = 0
      var passPool = -1
      var subDone = false
      while (!subDone && !done) {
        val passTarget = math.min(batch - passPicks, numMerges - merges.size)
        val cands = bpePairCounts(vocab)
          .orderBy(col("freq").desc, col("l").asc, col("r").asc)
          .limit(8 * batch).collect()
        if (passPool < 0) passPool = cands.length
        if (cands.isEmpty) { done = true }
        else {
          val used = scala.collection.mutable.Set.empty[String]
          val chosen = cands.iterator.map { row =>
            (row.getAs[String]("l"), row.getAs[String]("r"), row.getAs[Long]("freq"))
          }.filter { case (l, r, _) =>
            val ok = !used(l) && !used(r) && !used(l + r)
            if (ok) { used += l; used += r; used += (l + r) }
            ok
          }.take(passTarget).toVector
          merges = merges ++ chosen.zipWithIndex.map { case ((l, r, f), i) =>
            ((merges.size + i + 1).toLong, l, r, f)
          }
          passPicks += chosen.size
          val applied = chosen.foldLeft(col("sym")) { case (c, (l, r, _)) =>
            replace(c, lit(s"|$l||$r|"), lit(s"|$l$r|"))
          }
          val prev = vocab
          vocab = graft.Ckpt.eager(vocab.select(applied.as("sym"), col("cnt")))
          graft.Ckpt.drop(prev)
          // without refill: exactly one sub-round (the frozen-pool gate
          // semantics). With refill: keep going while the quota is
          // unmet and the last sub-round still found something.
          if (!refill || passPicks >= batch ||
            merges.size >= numMerges || chosen.isEmpty) subDone = true
        }
      }
      if (passPool >= 0) stats = stats :+ BpePassStats(passPool, passPicks)
    }
    (merges, stats)
  }

  lazy val q102_bpe_train: Q = (s, d) => {
    import s.implicits._
    bpeTrained(s, d)._1
      .toDF("step", "left_sym", "right_sym", "freq").orderBy("step")
  }

  /** q138 knobs: 32 merges at batch 4 — the measured-probe point where
    * batching matters (8 passes instead of 32 sequential argmax jobs;
    * SURVEY §8's k-scaling curve), small enough for the oracle to
    * unroll each pass. */
  private[graft] val bpeBatchGateK = 32
  private[graft] val bpeBatchGateB = 4

  /** The merge sequence is driver data computed by a deterministic
    * multi-job loop — memoized so bench reps after the first read the
    * Vector (the q102 training-charged-once convention). */
  private val bpeBatchedMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Vector[(Long, String, String, Long)]]

  /** q138: the BATCHED BPE trainer inside the correctness gate — until
    * r10 [[bpeTrainBatched]] was only spec-pinned (batch=1 ≡ sequential)
    * while the oracle gate ran the sequential trainer; this gates the
    * path that would actually run at 10⁵ merges. The DuckDB oracle
    * unrolls the SAME semantics pass by pass: freeze the pair-count
    * table, rank (freq desc, l, r), greedily take up to `batch`
    * pairwise-disjoint pairs from the top-8×batch pool (a recursive CTE
    * carries the used-symbol set through the ranked candidates — the
    * exact sequential scan the Scala iterator performs), apply all
    * selected replaces in one projection, recount. Any divergence in
    * ranking, disjointness blocking, or application order fails the
    * hash on (step, l, r, freq). */
  lazy val q138_bpe_batched: Q = (s, d) => {
    import s.implicits._
    bpeBatchedMemo.getOrElseUpdate((s, d),
      bpeTrainBatched(s, d, bpeBatchGateK, bpeBatchGateB))
      .toDF("step", "left_sym", "right_sym", "freq").orderBy("step")
  }

  /** q104: APPLY the q102-trained tokenizer and measure what it bought —
    * per language: words, characters, tokens under the learned merges,
    * and chars-per-token (the compression ratio a tokenizer exists to
    * maximize; whitespace baseline = tokens_per_word 1.0, character
    * baseline = chars_per_token 1.0). A word in the trained vocab costs
    * its final symbol count; a word outside it (non-alphabetic, or
    * shorter than 2 chars) falls back to character tokens — standard BPE
    * behavior for text with no applicable merges.
    *
    * Scale shape: the trained vocab is vocabulary-sized and joins the
    * exploded corpus words BROADCAST (at 100 TB: millions of vocab rows
    * vs billions of postings — broadcast or bucket join, never a corpus
    * shuffle); everything else is map-side lengths + a per-lang
    * aggregate. */
  lazy val q104_bpe_compression: Q = (s, d) => {
    val vt = bpeTrained(s, d)._2.select(
      regexp_replace(col("sym"), "\\|", "").as("w"),
      size(split(regexp_replace(col("sym"), "^\\||\\|$", ""), "\\|\\|"))
        .cast("long").as("n_syms"))
    docShingles(s, d).select(col("lang"), explode(col("words")).as("w"))
      .join(broadcast(vt), Seq("w"), "left")
      .select(col("lang"), length(col("w")).cast("long").as("nc"),
        coalesce(col("n_syms"), length(col("w")).cast("long")).as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum("nc").as("n_chars"),
        sum("nt").as("n_tokens"))
      .withColumn("chars_per_token",
        // 0/0 guard (the q60 rule): a lang of empty-string words has
        // zero tokens — NULL, not a NaN-vs-NULL engine divergence
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(round4(
            col("n_chars").cast("double") / col("n_tokens").cast("double"))))
      .orderBy("lang")
  }

  /** q106: tokenizer GENERALIZATION — train BPE on the q70 TRAIN split
    * only, then apply the learned merge sequence to train AND test words
    * by MERGE REPLAY: each word (alphabetic only — the training domain,
    * and '|' can't collide with the boundary delimiter) is rebuilt as a
    * boundary-delimited character string and the k learned merges are
    * applied as k sequential literal replaces — map-side, NO vocab join,
    * so an unseen-but-mergeable word still compresses (the exact
    * behavior q104's vocab-join fallback understates: there an OOV word
    * costs one token per character even when every merge applies).
    * Output: per split, words/chars/tokens and chars-per-token — the
    * train-vs-heldout compression gap a tokenizer report ships.
    *
    * Scale shape: training is q102's vocabulary-sized loop (train-split
    * corpus read once); application is a chain of k literal replaces
    * inside one codegen'd projection over exploded words, then a 2-group
    * aggregate. The merge table reaches executors as literals in the
    * plan (k rows, the broadcast-free degenerate case). */
  lazy val q106_bpe_heldout: Q = (s, d) => {
    val merges = bpeTrainedOn(s, d, "vocab_train", col("ib") < 80)._1
    val sym0 = concat(lit("|"), array_join(split(col("w"), ""), "||"), lit("|"))
    val symFinal = merges.foldLeft(sym0) { case (c, (_, l, r, _)) =>
      replace(c, lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }
    // r19: the application replay folds from [[wordIdCells]] — per-word
    // token/char totals are per-TYPE functions weighted by counts
    // (n_words ≡ Σ cw, n_chars ≡ Σ len(w)·cw, n_tokens ≡ Σ nt(w)·cw),
    // so the k-replace merge replay evaluates once per (split, word
    // type) instead of once per token occurrence — the same
    // count-weighted trick the trainer itself runs on
    wordIdCells(s, d)
      .where((col("ib") < 80 || col("ib") >= 90) &&
        col("w").rlike("^[a-z]+$"))
      .groupBy(when(col("ib") < 80, "train").otherwise("test").as("split"),
        col("w"))
      .agg(sum("cw").as("cw"))
      .select(col("split"), col("cw"),
        length(col("w")).cast("long").as("nc"),
        size(split(regexp_replace(symFinal, "^\\||\\|$", ""), "\\|\\|"))
          .cast("long").as("nt"))
      .groupBy("split")
      .agg(sum("cw").as("n_words"), sum(col("nc") * col("cw")).as("n_chars"),
        sum(col("nt") * col("cw")).as("n_tokens"))
      .withColumn("chars_per_token",
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(round4(
            col("n_chars").cast("double") / col("n_tokens").cast("double"))))
      .orderBy("split")
  }

  /** Persist the full-corpus-trained merge sequence as a parquet model
    * artifact — the tokenizer FILE a training stack ships: training
    * happens once on the data team's cluster, every consumer (the
    * packing job, the serving encoder, next month's incremental crawl)
    * reads the artifact, never retrains. One k-row file; the write is
    * a plain overwrite (the model is tiny and rebuilt atomically by
    * its producer — the snapshot-log ceremony would be ceremony). */
  def writeBpeModel(s: SparkSession, d: String, out: String): Unit = {
    import s.implicits._
    bpeTrained(s, d)._1.toDF("step", "left_sym", "right_sym", "freq")
      .coalesce(1).write.mode("overwrite").parquet(out)
  }

  /** q156: the tokenizer SERVED FROM ITS FILE — q106's merge-replay
    * application driven by merges read back from the [[writeBpeModel]]
    * artifact in step order, never from session state: per lang,
    * words/chars/tokens and chars-per-token over the alphabetic corpus.
    * The oracle retrains the same chain from scratch and replays it, so
    * the gate proves the artifact ROUND-TRIPS the model bit-exactly —
    * a step dropped, reordered, or corrupted in the file changes token
    * counts and fails the hash (the q114/q128 serve-from-files rule,
    * applied to the tokenizer). Model write is session-once; serving
    * replays k literal replaces inside one codegen'd
    * projection — the merge table rides the plan as literals. */
  lazy val q156_bpe_model_serve: Q = (s, d) => {
    val path = graft.etl.StarBuilder.scratchDir(s, d, "bpemodel")
    graft.SessionMemo.once(s, d, "bpe:model")(writeBpeModel(s, d, path))
    val merges = s.read.parquet(path).orderBy("step").collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
    val sym0 = concat(lit("|"), array_join(split(col("w"), ""), "||"), lit("|"))
    val symFinal = merges.foldLeft(sym0) { case (c, (l, r)) =>
      replace(c, lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }
    docShingles(s, d).select(col("lang"), explode(col("words")).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .select(col("lang"), length(col("w")).cast("long").as("nc"),
        size(split(regexp_replace(symFinal, "^\\||\\|$", ""), "\\|\\|"))
          .cast("long").as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum("nc").as("n_chars"),
        sum("nt").as("n_tokens"))
      .withColumn("chars_per_token",
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(round4(
            col("n_chars").cast("double") / col("n_tokens").cast("double"))))
      .orderBy("lang")
  }

  /** q134: unigram-LM surprisal scoring — the perplexity-filter rung
    * (the CCNet/Gopher recipe: score every document by how surprising a
    * reference LM finds it, then gate or re-weight on the score). The
    * LM is the TRAIN split's unigram table (q70's deterministic hash
    * split, so the filter never scores a document against a model that
    * saw it... except the train docs themselves, reported under the
    * same columns for the honest train-vs-rest contrast). Per token the
    * surprisal proxy is the INTEGER ⌊T/count⌋ — the inverse relative
    * frequency on the same determinism ground as q94's ratio idf: a
    * true −log p would make the gate hang on libm's last ulp, while
    * the integer division is bit-identical in both engines and
    * preserves the ranking a log would induce (monotone in 1/p). OOV
    * tokens charge the ceiling T (count 0 → the rarest-possible score)
    * and are counted separately — n_oov is the q104 OOV-rate signal at
    * the document grain.
    *
    * Scale shape: the unigram table is vocabulary-sized → broadcast
    * onto the exploded tokens (q94's df-table shape); per-doc sums
    * shuffle on doc_id only. The one driver-side action is the 1-row
    * total. */
  lazy val q134_surprisal: Q = (s, d) => {
    val docs = docShingles(s, d)
    val vocab = docs.where(idBucket(col("doc_id")) < 80)
      .select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    // coalesce: an all-eval corpus has an empty table (sum → null); the
    // filter then degrades to all-OOV zero scores instead of an NPE
    val t = vocab.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    docs.select(col("doc_id"), explode(col("words")).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .select(col("doc_id"),
        when(col("cnt").isNull, lit(t))
          .otherwise(expr(s"CAST($t AS BIGINT) div cnt")).as("sp"),
        when(col("cnt").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("oov").as("n_oov"),
        sum("sp").as("surprisal_sum"))
      .withColumn("mean_surprisal",
        round2(col("surprisal_sum").cast("double") / col("n_tokens").cast("double")))
      .orderBy("doc_id")
  }

  /** q188 backoff penalty — the stupid-backoff α=0.4 discount expressed
    * as an integer surcharge MULTIPLIER on the backed-off charge (bigger
    * charge = more surprising, so the penalty multiplies instead of
    * discounting a probability). */
  private val backoffPenalty = 4L

  /** q188: trained bigram LM with stupid backoff — the learned rung
    * above q134's unigram surprisal (the CCNet recipe's actual shape: a
    * CONTEXT-conditioned model; "the the" is cheap under unigrams but
    * expensive under a bigram LM, and vice versa for rare-but-wellformed
    * collocations). Trained on q70's deterministic hash split
    * (idBucket < 80). Per adjacent pair (w1, w2):
    *
    *  - bigram seen in train: charge ⌊cnt(w1)/cnt(w1 w2)⌋ — the integer
    *    inverse CONDITIONAL relative frequency 1/p̂(w2|w1), q134's
    *    determinism ground applied to the conditional;
    *  - unseen bigram, known w2: back off to [[backoffPenalty]]·⌊T/cnt(w2)⌋
    *    (the unigram charge, penalized);
    *  - OOV w2: the ceiling [[backoffPenalty]]·T.
    *
    * Output per doc: pair count, backoff count (unseen-bigram rate — the
    * fluency signal), OOV count, integer charge sum, round2 mean.
    *
    * Scale shape: the unigram table is vocabulary-sized → broadcast
    * (q134's shape); the bigram table is bigram-vocabulary-sized and
    * heavy-tailed, so it joins by SHUFFLE on the narrow bg string —
    * never broadcast (at 100 TB it outgrows any driver). Pairs are
    * built map-side (guarded transform, no pre-explode). */
  /** q188's per-doc aggregate — (doc_id, n_bigrams, n_backoff, n_oov,
    * sp_sum) for every doc with at least one bigram — factored so the
    * perplexity FILTER (q234) consumes the identical model and charges
    * (one definition, the streaming-twin sharing rule applied within
    * the batch family). */
  private def bigramDocSp(s: SparkSession, d: String): DataFrame = {
    val docs = docShingles(s, d)
    val prs = when(size(col("words")) >= 2,
      transform(sequence(lit(1), size(col("words")) - 1),
        i => struct(element_at(col("words"), i).as("w1"),
          element_at(col("words"), i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val pairs = docs.select(col("doc_id"), explode(prs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"),
        concat(col("p.w1"), lit(" "), col("p.w2")).as("bg"))
    val uni = docs.where(idBucket(col("doc_id")) < 80)
      .select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("ucnt"))
    val bgCnt = pairs.where(idBucket(col("doc_id")) < 80)
      .groupBy("bg").agg(count(lit(1)).as("bcnt"))
    // q134's all-eval degradation: empty train → T = 0, every pair OOV
    val t = uni.agg(coalesce(sum("ucnt"), lit(0L))).head().getLong(0)
    pairs
      .join(bgCnt, Seq("bg"), "left")
      .join(broadcast(uni.select(col("word").as("w1"), col("ucnt").as("ucnt1"))),
        Seq("w1"), "left")
      .join(broadcast(uni.select(col("word").as("w2"), col("ucnt").as("ucnt2"))),
        Seq("w2"), "left")
      .select(col("doc_id"),
        when(col("bcnt").isNotNull, expr("ucnt1 div bcnt"))
          .when(col("ucnt2").isNotNull,
            lit(backoffPenalty) * expr(s"CAST($t AS BIGINT) div ucnt2"))
          .otherwise(lit(backoffPenalty * t)).as("sp"),
        when(col("bcnt").isNotNull, 0L).otherwise(1L).as("backoff"),
        when(col("bcnt").isNull && col("ucnt2").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("backoff").as("n_backoff"),
        sum("oov").as("n_oov"), sum("sp").as("sp_sum"))
  }

  lazy val q188_bigram_lm: Q = (s, d) =>
    bigramDocSp(s, d)
      .withColumn("mean_sp",
        round2(col("sp_sum").cast("double") / col("n_bigrams").cast("double")))
      .orderBy("doc_id")

  /** q234: PERPLEXITY-GATED FILTERING — the CCNet-style curation stage
    * (Wenzek et al., LREC'20) the LM family was missing: score every
    * document by its q188 bigram-LM surprisal and keep the docs at or
    * below their LANGUAGE's median — per-language thresholds because a
    * global cut just drops whole low-resource languages whose LM is
    * weaker. All integer: the per-doc score is the truncating mean
    * `sp_sum div n_bigrams` (positive operands, Spark div ≡ DuckDB //),
    * the threshold is the exact LOWER MEDIAN (smallest v with
    * 2·cum ≥ n) read off a per-language VALUE HISTOGRAM — the
    * q184/q189 rule: the cumulative window runs over (lang, value)
    * counts, value-domain-bounded, never a per-doc sort. Docs with no
    * bigram (single-word) carry NULL score and are NOT kept — no
    * evidence is not a pass (their own gate is q42's length rule).
    * One definition of the model and charges ([[bigramDocSp]]) with
    * q188 — the filter and the diagnostic cannot drift. */
  lazy val q234_ppl_filter: Q = (s, d) => {
    val ld = docShingles(s, d).select("doc_id", "lang")
      .join(bigramDocSp(s, d)
        .select(col("doc_id"), expr("sp_sum div n_bigrams").as("sp_i")),
        Seq("doc_id"), "left")
    val sc = ld.where(col("sp_i").isNotNull)
    val hist = sc.groupBy("lang", "sp_i").agg(count(lit(1)).as("c"))
    val tot = sc.groupBy("lang").agg(count(lit(1)).as("n"))
    val wl = Window.partitionBy("lang").orderBy("sp_i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist.withColumn("cum", sum("c").over(wl))
      .join(broadcast(tot), "lang")
      .where(col("cum") * 2 >= col("n"))
      .groupBy("lang").agg(min("sp_i").as("med_sp"))
    ld.join(broadcast(med), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("sp_i"), col("med_sp"),
        when(col("sp_i") <= col("med_sp"), 1L).otherwise(0L).as("kept"))
      .orderBy("doc_id")
  }

  /** q143 hashed-feature space: words hash to 1024 buckets via the md5
    * idBucket family — identical text-to-integer math in both engines. */
  private val dsirBuckets = 1024L
  private def wordBucket(word: Column): Column =
    pmod(conv(substring(md5(word), 1, 4), 16, 10).cast("long"), lit(dsirBuckets))

  /** q143: DSIR-style importance weights (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023):
    * score every document by how much more typical its tokens are of a
    * TARGET distribution than of the SOURCE — the hashed-n-gram
    * importance weight DSIR resamples on. Target = the English subset
    * (the declared in-corpus target domain); source = the whole corpus;
    * features are [[wordBucket]] hashed unigrams counted per
    * distribution (both models are 1024-row tables — broadcast
    * vocabulary-sized state, the q94/q134 shape). A token's log-ratio
    * log(p_tgt/p_src) = surprisal_src − surprisal_tgt is replaced by
    * the INTEGER inverse-relative-frequency contrast
    * ⌊T_src/cnt_src⌋ − ⌊T_tgt/cnt_tgt⌋ on q134's determinism ground: a
    * true log would hang the gate on libm's last ulp, the integer form
    * is bit-identical cross-engine and keeps the per-token ranking
    * (the per-doc SUM is the declared deterministic variant of the
    * paper's log-sum). Target-OOV buckets charge the ceiling T_tgt and
    * are counted (the q134 rule); source-OOV is impossible — the
    * source model saw every scored token. Positive dsir_sum ⇒ the
    * document reads more target-like than source-average; the
    * selection/resampling rung that consumes the score is q82/q122's
    * budget machinery, deliberately not duplicated here.
    *
    * Scale shape: one model-building aggregation (1024 groups, both
    * distributions as conditional sums) collected driver-side — a
    * planning-sized collect, feature-space- not corpus-sized — then
    * map-side scoring under the broadcast model; per-doc sums shuffle
    * on doc_id only. */
  lazy val q143_dsir_weights: Q = (s, d) =>
    dsirScore(s, dsirUniTok(s, d), Some((d, "text:dsirUniModel")))

  /** The q143 unigram hashed-feature token stream — shared by the
    * scoring pass and the (memoized) model build. */
  private def dsirUniTok(s: SparkSession, d: String): DataFrame =
    docShingles(s, d)
      .select(col("doc_id"), col("lang"), explode(col("words")).as("word"))
      .withColumn("b", wordBucket(col("word")))

  /** The DSIR scoring engine shared by q143 (unigram features) and
    * q146 (bigram features): given a (doc_id, lang, b) hashed-feature
    * stream, ONE model-building job computes both distributions — per
    * bucket, the source count and the target (English) count as a
    * conditional sum — and lands the feature-space-sized table
    * driver-side, where the two totals fold for free; the model
    * re-enters the scoring pass as a broadcast literal frame. Two
    * corpus scans total (build + score) where separate src/tgt
    * aggregations plus two total actions cost four. A bucket with
    * t_cnt = 0 IS target-OOV (charged the ceiling, the q134 rule); a
    * target-free corpus degrades to all-OOV zero charges since
    * tTot = 0. */
  private def dsirScore(s: SparkSession, tok: DataFrame,
      memo: Option[(String, String)] = None): DataFrame = {
    // the model aggregate is feature-space-bounded (1024/4096 cells) —
    // with a memo key it builds ONCE per session (r18) and each rep
    // collects the checkpoint instead of re-running the corpus explode;
    // spec/ad-hoc callers pass no key and keep the direct build
    val modelDf = tok.groupBy("b")
      .agg(count(lit(1)).as("s_cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_cnt"))
    val model = memo.fold(modelDf) { case (dir, key) =>
        graft.SessionMemo(s, dir, key)(modelDf)(_.localCheckpoint(true))
      }
      .collect()
      .map(r => (r.getAs[Long]("b"), r.getAs[Long]("s_cnt"), r.getAs[Long]("t_cnt")))
    val sTot = model.map(_._2).sum
    val tTot = model.map(_._3).sum
    import s.implicits._
    tok.join(broadcast(model.toSeq.toDF("b", "s_cnt", "t_cnt")), Seq("b"))
      .select(col("doc_id"),
        (expr(s"CAST($sTot AS BIGINT) div s_cnt") -
          when(col("t_cnt") === 0L, lit(tTot))
            .otherwise(expr(s"CAST($tTot AS BIGINT) div t_cnt"))).as("w"),
        when(col("t_cnt") === 0L, 1L).otherwise(0L).as("oov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("oov").as("n_oov_tgt"),
        sum("w").as("dsir_sum"))
      .withColumn("mean_w",
        round2(col("dsir_sum").cast("double") / col("n_tokens").cast("double")))
      .orderBy("doc_id")
  }

  /** q146 bigram feature space: 4096 buckets (bigrams are sparser per
    * bucket than unigrams; the wider table is still broadcast-tiny). */
  private val dsirBigramBuckets = 4096L

  /** q146: DSIR importance weights over hashed BIGRAM features — the
    * paper's actual feature space (hashed n-grams capture local word
    * order a bag of unigrams cannot: "bank of the river" vs financial
    * text score apart even on shared vocabulary). Adjacent word pairs
    * join with a single space, hash into 4096 buckets, and run the
    * exact q143 scoring engine; n_tokens here counts bigrams
    * (len(words) − 1), and documents under two words carry no feature
    * and drop out, the q134 empty-explode convention. Comparing q143
    * and q146 per doc is the practical feature-ablation view an
    * operator reads before committing a resampling run. */
  lazy val q146_dsir_bigram: Q = (s, d) => {
    val n = size(col("words"))
    val bigrams = zip_with(
      slice(col("words"), lit(1), greatest(n - 1, lit(0))),
      slice(col("words"), lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    dsirScore(s, docShingles(s, d)
      .select(col("doc_id"), col("lang"), explode(bigrams).as("word"))
      .withColumn("b", pmod(conv(substring(md5(col("word")), 1, 4), 16, 10)
        .cast("long"), lit(dsirBigramBuckets))),
      Some((d, "text:dsirBigramModel")))
  }

  /** q147 Count-Min geometry: 4 independent hash rows × 256 buckets —
    * 1 KiB of counters total, the point of the sketch. Row r hashes a
    * word through the md5 family with the row index as a seed prefix
    * (`"r:word"`), the [[wordBucket]] text-to-integer math, so the four
    * rows are independent and both engines compute identical buckets. */
  private val cmsRows = 4
  private val cmsWidth = 256L
  private def cmsBucket(row: Int, word: Column): Column =
    pmod(conv(substring(md5(concat(lit(s"$row:"), word)), 1, 4), 16, 10)
      .cast("long"), lit(cmsWidth))

  /** q147: Count-Min Sketch heavy-hitter audit (Cormode & Muthukrishnan,
    * J. Algorithms 2005) — the mergeable frequency sketch a 100 TB
    * pipeline keeps INSTEAD of an exact term table: each token
    * increments one counter per hash row, a point estimate is the MIN
    * over its rows' counters (never an undercount; collisions only
    * inflate). The query builds the 4×256 sketch over the corpus in one
    * narrow aggregation (map-side combine onto ≤1024 cells — the
    * counters, not the corpus, cross the wire), takes the exact top-20
    * terms (count desc, word asc — the deterministic tie), and reports
    * per term the exact count, the CMS estimate through the broadcast
    * sketch, and the collision overcount. The exact side exists to
    * AUDIT the sketch's error on the heavy tail — at scale the exact
    * table is the thing you drop, and this query is the calibration an
    * operator runs on a sample before trusting the sketch's estimates.
    * Every value is an integer; both engines hash with the same md5
    * prefix math, so the gate pins estimate = oracle estimate exactly. */
  /** All [[cmsRows]] buckets of a word as one array (posexplode pairs
    * each row index with its bucket). Shared with the streaming twin
    * ([[graft.streaming.EventStream.cmsCellsStream]]) so the sketch
    * geometry cannot drift between batch and stream. */
  private[graft] def cmsBuckets(word: Column): Column =
    array((0 until cmsRows).map(r => cmsBucket(r, word)): _*)

  /** The sketch of a token stream: (row, bucket) → counter. ≤ 1024
    * cells regardless of corpus size — map-side combine does the work. */
  private[graft] def cmsCells(tok: DataFrame): DataFrame =
    tok.select(posexplode(cmsBuckets(col("word"))).as(Seq("r", "b")))
      .groupBy("r", "b").agg(count(lit(1)).as("cell_cnt"))

  /** [[cmsCells]] folded from a (w, cw) TYPE-count table instead of the
    * token stream: a word's (r, b) cells depend only on the word, so
    * the cell counter is Σ over types of cw — token-identical to the
    * stream build (TrainingDataSpec pins the fold ≡ stream parity).
    * r19: lets q147/q151 sketch from the memoized count tables. */
  private[graft] def cmsCellsFromCounts(wc: DataFrame): DataFrame =
    wc.select(col("cw"), posexplode(cmsBuckets(col("w"))).as(Seq("r", "b")))
      .groupBy("r", "b").agg(sum("cw").as("cell_cnt"))

  /** Serve (word, cnt) probes through a sketch: estimate = MIN over the
    * word's per-row counters, plus the collision overcount. */
  private def cmsServe(probes: DataFrame, cells: DataFrame): DataFrame =
    probes.select(col("word"), col("cnt"),
        posexplode(cmsBuckets(col("word"))).as(Seq("r", "b")))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy("word", "cnt")
      .agg(min("cell_cnt").as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("cnt"))
      .orderBy(col("cnt").desc, col("word"))

  lazy val q147_cms_topk: Q = (s, d) => {
    // r19: the exact term table and the sketch both fold from the
    // memoized unigram TYPE counts (the corpus explode ran per rep
    // twice — once per consumer of `tok`). The top-k is the same cut
    // (type counts ARE the exact term table); the sketch fold is
    // token-identical ([[cmsCellsFromCounts]]). The vocabulary-sized
    // fold + serve join still run per rep — the artifact is an input
    // marginal, not this query's result (SessionMemo rule 1).
    val wc = unigramCounts(s, d)
    val top = wc.select(col("w").as("word"), col("cw").as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20)
    cmsServe(top, cmsCellsFromCounts(wc))
  }

  /** q151: the CMS MERGE LAW — the property that makes q147's sketch
    * the 100 TB design: sketches of DISJOINT ingest batches merged by
    * plain cell-wise addition serve exactly what a single-pass sketch
    * over the union serves (counters are linear; min-over-rows commutes
    * with nothing, so the merge must happen at the CELL level — merging
    * estimates would be wrong, which is precisely what this gate would
    * catch). Here the corpus splits on the q70 id-hash (buckets < 50 vs
    * ≥ 50 — two ingest days), each half builds its own ≤1024-cell
    * sketch without ever seeing the other's rows, the merge is a
    * union + sum over (row, bucket), and the top-20 probes are served
    * through the MERGED sketch. The oracle is q147's single-pass oracle
    * VERBATIM: lost mass, double counting, or row/bucket mixing in the
    * merge fails the hash. At scale this is the sketch's whole value:
    * per-batch map-side build, kilobyte merge, no re-read. */
  lazy val q151_cms_merge: Q = (s, d) => {
    // r19: each half's sketch folds from the [[wordIdCells]] slice of
    // its id-bucket range (buckets partition docs, so the per-half
    // (word → count) marginal is exact — neither fold sees the other
    // half's counts) and the probes fold from the full type table;
    // the gated MERGE (union + cell-wise sum) is unchanged. Three
    // per-rep corpus explodes become vocabulary-sized folds.
    def halfCells(lower: Boolean) = cmsCellsFromCounts(wordIdCells(s, d)
      .where(if (lower) col("ib") < 50 else col("ib") >= 50)
      .groupBy("w").agg(sum("cw").as("cw")))
    val merged = halfCells(lower = true)
      .unionByName(halfCells(lower = false))
      .groupBy("r", "b").agg(sum("cell_cnt").as("cell_cnt"))
    val top = unigramCounts(s, d)
      .select(col("w").as("word"), col("cw").as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20)
    cmsServe(top, merged)
  }

  /** q148: trained Naive-Bayes language classifier — the learned rung
    * above q40's stopword heuristic: per-class unigram models fitted on
    * the TRAIN split (q70's deterministic id-hash buckets < 80) over the
    * q143 1024-bucket hashed feature space, then every document scored
    * against every class and assigned the argmin total surprisal. Per
    * token the class charge is the INTEGER inverse relative frequency
    * ⌊T_c / cnt_{c,b}⌋ (q134's determinism ground — a real −log p would
    * hang the gate on libm's last ulp; the integer form preserves the
    * ranking), with class-OOV buckets charged the ceiling T_c. Charges
    * are precomputed driver-side into a DENSE #classes×1024 literal
    * frame (feature-space-sized, broadcast — the dsirScore collect
    * pattern), so scoring is ONE broadcast join: each token fans out to
    * #classes (b, class, charge) rows map-side, partial sums combine
    * before the narrow (doc, class) shuffle, and the per-document argmin
    * is a #classes-row window. The gate row is the confusion matrix
    * (true lang × predicted lang × docs) over ALL docs — train rows
    * included, the honest in-sample/out-sample contrast under one
    * schema; ties break on class name asc in both engines. */
  lazy val q148_nb_langid: Q = (s, d) => {
    import s.implicits._
    val tok = dsirUniTok(s, d)
    // the fitted per-class table is (#classes × 1024)-bounded — built
    // once per session (r18); each rep collects the checkpoint instead
    // of re-running the train-split corpus aggregate
    val fitted = graft.SessionMemo(s, d, "text:nbLangidFit")(
        tok.where(idBucket(col("doc_id")) < 80)
          .groupBy("lang", "b").agg(count(lit(1)).as("cnt")))(_.localCheckpoint(true))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val totals = fitted.groupBy(_._1).map { case (c, rs) => c -> rs.map(_._3).sum }
    val cnts = fitted.map { case (c, b, n) => (c, b) -> n }.toMap
    val model = (for {
      c <- totals.keys.toSeq.sorted; b <- 0L until dsirBuckets
    } yield (c, b, cnts.get((c, b)).fold(totals(c))(totals(c) / _)))
      .toDF("c", "b", "charge")
    val w = Window.partitionBy("doc_id").orderBy(col("score").asc, col("c").asc)
    tok.join(broadcast(model), Seq("b"))
      .groupBy("doc_id", "lang", "c").agg(sum("charge").as("score"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .groupBy(col("lang"), col("c").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")
  }

  /** q163 label threshold on the q42 quality score (its median is
    * ≈ 0.677 at every driver scale, so both classes stay populated). */
  private val qpTau = 0.68
  /** Batch-perceptron epochs — a driver loop of one aggregation job
    * each (the q101/q102 class), unrolled verbatim in the oracle. */
  private val qpEpochs = 20

  /** (doc_id, b, x): the classifier's INTEGER feature rows — the q42
    * heuristic's own sufficient statistics (b 0 = token count, 1 =
    * distinct-token count, 2 = stopword count) plus bias (b = −1,
    * x = 1). For documents past the length knee the thresholded
    * heuristic is EXACTLY a linear form in these counts
    * (0.5·nd − 0.3·ns − (τ−0.2)·nt ≥ 0 — multiply the ratio mix
    * through by nt), so a linear model can genuinely represent the
    * target; hashed unigrams cannot (a type-token ratio is invisible
    * to a bag of bucket counts — measured: the lexical variant
    * collapsed to one-class predictions). */
  private def qpFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(col("words")).cast("long").as("nt"),
        size(array_distinct(col("words"))).cast("long").as("nd"),
        size(filter(col("words"), w => w.isin(stopwords: _*))).cast("long").as("ns"))
      .select(col("doc_id"), explode(array(
        struct(lit(-1L).as("b"), lit(1L).as("x")),
        struct(lit(0L).as("b"), col("nt").as("x")),
        struct(lit(1L).as("b"), col("nd").as("x")),
        struct(lit(2L).as("b"), col("ns").as("x")))).as("f"))
      .select(col("doc_id"), col("f.b").as("b"), col("f.x").as("x"))

  /** Distillation labels: y = +1 iff the q42 heuristic score clears
    * [[qpTau]] (the score is round4'd, so the comparison is exact in
    * both engines). */
  private def qpLabels(docs: DataFrame): DataFrame =
    withQuality(docs).select(col("doc_id"),
      when(col("score") >= qpTau, 1L).otherwise(-1L).as("y"))

  private val qpMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[(Long, Long)]]

  /** Integer division truncating toward zero — Scala's native Long `/`;
    * the oracle spells the same thing as a sign-guarded `//` (DuckDB's
    * `//` FLOORS, which would diverge on negative deltas). */
  private def tdiv(a: Long, b: Long): Long = a / b

  /** Train the batch perceptron on the q70 TRAIN split (buckets < 80):
    * per epoch, margins m(doc) = Σ_b w[b]·x[b] under the FROZEN epoch
    * weights; every misclassified doc (y·m ≤ 0 — epoch 1's zero
    * margins count as wrong, so epoch 1 is the class-mean
    * initialization) contributes y·x to the delta; the applied step is
    * the AVERAGE misclassified example scaled by 1/epoch,
    * ⌊Σ y·x / (mis · epoch)⌋ — the raw batch step (Σ y·x outright)
    * measurably oscillates between the two one-class solutions on
    * count-scaled features, while the damped average converges to a
    * stable 73–81%-accuracy vector at every driver scale. All integer:
    * the fold is order-free (unlike the classic per-example
    * perceptron), which is what lets the oracle replay training
    * exactly. Weights are a 4-entry driver map (the q148 model-table
    * convention), memoized per (session, dir). */
  private def qpTrain(s: SparkSession, d: String): Seq[(Long, Long)] =
    qpMemo.getOrElseUpdate((s, d), {
      import s.implicits._
      val train = docShingles(s, d).where(idBucket(col("doc_id")) < 80)
      val feat = graft.Ckpt.eager(qpFeatures(train))
      val lab = graft.Ckpt.eager(qpLabels(train))
      var w = Map.empty[Long, Long]
      var done = false
      for (ep <- 1 to qpEpochs if !done) {
        val wdf =
          if (w.isEmpty) Seq.empty[(Long, Long)].toDF("b", "w")
          else w.toSeq.toDF("b", "w")
        val marg = feat.join(broadcast(wdf), Seq("b"), "left")
          .groupBy("doc_id")
          .agg(sum(coalesce(col("w"), lit(0L)) * col("x")).as("m"))
          .join(lab, "doc_id")
        // one aggregation: per-feature delta sums, with the bias row's
        // occurrence count doubling as the misclassified-doc count
        // (every doc carries exactly one b = −1 row)
        val upd = marg.where(col("y") * col("m") <= 0)
          .select(col("doc_id"), col("y"))
          .join(feat, "doc_id")
          .groupBy("b").agg(sum(col("y") * col("x")).as("dw"),
            count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val mis = upd.get(-1L).map(_._2).getOrElse(0L)
        if (mis == 0L) done = true
        else w = (w.keySet ++ upd.keySet).iterator
          .map(b => b -> (w.getOrElse(b, 0L) +
            tdiv(upd.get(b).map(_._1).getOrElse(0L), mis * ep))).toMap
      }
      w.toSeq.sortBy(_._1)
    })

  /** q163: TRAINED quality classifier — the learned rung above q42's
    * heuristic (as q148 is above q40's): a batch perceptron DISTILLS
    * the heuristic into FOUR integer weights — the [[qpFeatures]] count
    * features (token count, distinct-token count, stopword count) plus
    * bias — fitted on the train split, and the gate row is the
    * label-vs-prediction
    * confusion matrix on the HELD-OUT docs (buckets ≥ 80) — the
    * fasttext-style quality-classifier shape (learn a cheap linear
    * scorer from rule labels, then serve it where the rules are too
    * slow or unavailable). Everything is integer arithmetic — counts,
    * ±1 labels, weight sums — so the DuckDB oracle replays training
    * EXACTLY: [[qpEpochs]] unrolled epoch CTEs (margins under the
    * frozen weights → misclassified set → delta fold → merged
    * weights), then the same serve. Scale shape: training state is the
    * kilobyte weight vector; each epoch is one map-side-combinable
    * aggregation over the (doc, bucket) features; serving is one
    * broadcast join + a per-doc sum. Prediction: m > 0 → +1 else −1
    * (ties negative, both engines). */
  lazy val q163_quality_perceptron: Q = (s, d) => {
    import s.implicits._
    val wSeq = qpTrain(s, d)
    val wdf =
      if (wSeq.isEmpty) Seq.empty[(Long, Long)].toDF("b", "w")
      else wSeq.toDF("b", "w")
    val test = docShingles(s, d).where(idBucket(col("doc_id")) >= 80)
    qpFeatures(test).join(broadcast(wdf), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("w"), lit(0L)) * col("x")).as("m"))
      .withColumn("pred", when(col("m") > 0, 1L).otherwise(-1L))
      .join(qpLabels(test), "doc_id")
      .groupBy(col("y").as("label"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("label", "pred")
  }

  /** q308: SCORE CALIBRATION CURVE — the reliability readout for
    * q163's trained scorer (the confusion matrix says WHETHER the sign
    * is right; a curation pipeline thresholding on the margin needs to
    * know the label rate AT each score level): held-out documents are
    * binned into margin deciles by MIN-RANK on the margin VALUE
    * HISTOGRAM ([[graft.ops.Robust.rankCodes]] — never a rank window
    * over the doc corpus), and each bin reports its positive-label
    * rate beside its mean margin — a monotone curve = a thresholdable
    * score. The margins are the IDENTICAL serve pass q163 gates
    * (shared weights, features, labels; the oracle reuses q163's
    * unrolled training CTEs verbatim). Scale: q163's serve shape plus
    * a histogram-bounded code map and a ≤ 10-row aggregate. */
  lazy val q308_score_calibration: Q = (s, d) => {
    import s.implicits._
    val wSeq = qpTrain(s, d)
    val wdf =
      if (wSeq.isEmpty) Seq.empty[(Long, Long)].toDF("b", "w")
      else wSeq.toDF("b", "w")
    val test = docShingles(s, d).where(idBucket(col("doc_id")) >= 80)
    val scored = graft.Ckpt.persisted(
      qpFeatures(test).join(broadcast(wdf), Seq("b"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("w"), lit(0L)) * col("x")).as("m"))
        .join(qpLabels(test), "doc_id"))
    scored
      .join(graft.ops.Robust.rankCodes(scored, "m", 10), "m")
      .groupBy(col("m_code").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        sum("m").as("sum_m"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("n_pos * 10000 div n_docs").as("pos_rate_bp"),
        expr("sum_m div n_docs").as("mean_margin"))
      .orderBy("bin")
  }

  /** q152 HLL geometry: m = 16 registers, addressed by the doc-id md5's
    * first 4 hex digits mod 16; the NEXT 8 hex digits (32 bits) feed the
    * leading-zero rank. The harmonic sum is kept as an INTEGER scaled by
    * 2^33 (each term 2^(33−M) is an exact shift, an empty register
    * contributes 2^33), so the only floating-point step is the final
    * constant-over-integer division — bit-identical cross-engine, where
    * a pow(2, −M) chain would lean on libm. α₁₆ = 0.673, the Flajolet
    * et al. 2007 constant; the small-range correction is deliberately
    * OMITTED (its ln() is a libm call — presentation, not gate math),
    * so `hll_est` is the raw estimator and `rel_err` reports honestly
    * what raw HLL-16 does at these cardinalities. */
  private[ops] val hllRegs = 16L
  private[ops] val hllEmptyTerm = 8589934592L // 2^33
  private[ops] val hllNum = 0.673 * (16.0 * 16.0) * 8589934592.0

  /** The register coordinate of an id under that geometry: the register
    * index `b` and the leading-zero rank (33 for an all-zero word) — one
    * definition for every register build, over doc_id (q152/q155/q262)
    * and user_id (q228/q263, q236/q261 and the streaming feed). */
  private[graft] def hllBucket(id: Column): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long"), lit(hllRegs))

  private[graft] def hllRank(id: Column): Column = {
    val v = conv(substring(md5(id.cast("string")), 5, 8), 16, 10).cast("long")
    when(v === 0L, lit(33L)).otherwise(lit(33L) - length(bin(v)).cast("long"))
  }

  /** q152: HyperLogLog registers built from scratch — the register-exact
    * twin of q93's claim-style gate (there Spark's native
    * approx_count_distinct is asserted within 5%; here every register,
    * rank and the raw estimate are pinned cross-engine). Distinct
    * doc_ids per lang: register b of class `lang` holds the max
    * leading-zero rank of any doc hashing there; the estimate is
    * α·m²/Σ2^(−M_b). The register table is (#langs × 16) rows built by
    * one map-side-combined aggregation — the sketch a 100 TB pipeline
    * ships instead of a count-distinct shuffle. r16: this row gates the
    * SERVE path only (register algebra, no exact side); the exact
    * baseline + rel_err moved to their own gated row, q262, so the
    * plan gated here is exactly the one you'd run at 100×. */
  lazy val q152_hll_registers: Q = (s, d) =>
    hllServeOnly(hllRegisters(docShingles(s, d))).orderBy("lang")

  /** q262: q152's EXACT AUDIT as its own gated row — the r16 serve/
    * audit split (r15 verdict item 4): q152 now gates the pure
    * register-algebra serve path (the plan you'd run at 100×, where
    * the countDistinct audit would dominate the sketch it audits),
    * and THIS row carries the exact baseline + relative error so the
    * honesty convention stays oracle-checked, charged to its own
    * bench line. Same registers, same estimate chain. */
  lazy val q262_hll_card_audit: Q = (s, d) =>
    hllServe(hllRegisters(docShingles(s, d)), docShingles(s, d))

  /** The per-(lang, register) max-rank table of a document frame — the
    * HLL state. Shared by q152 (single pass) and q155 (merge law). */
  private def hllRegisters(docs: DataFrame): DataFrame =
    docs.select(col("lang"), hllBucket(col("doc_id")).as("b"),
        hllRank(col("doc_id")).as("rnk"))
      .groupBy("lang", "b").agg(max("rnk").as("m"))

  /** q155: the HLL MERGE LAW — q151's argument for the distinct-count
    * sketch: registers of DISJOINT ingest batches merge by ELEMENT-WISE
    * MAX (each register already holds a max, and max is associative/
    * commutative/idempotent — unlike CMS's additive counters, an HLL
    * merge even tolerates overlapping batches, which is why warehouse
    * rollups keep HLL state per partition and fold upward). The corpus
    * splits on the q70 id-hash (< 50 vs ≥ 50), each half builds its own
    * #langs×16 register table blind to the other, the merge is a
    * union + max, and the estimate chain runs over the MERGED
    * registers — gated against q152's single-pass oracle VERBATIM. */
  lazy val q155_hll_merge: Q = (s, d) => {
    val docs = docShingles(s, d).select(col("doc_id"), col("lang"))
    def half(lower: Boolean) = hllRegisters(
      docs.where(if (lower) idBucket(col("doc_id")) < 50
                 else idBucket(col("doc_id")) >= 50))
    val merged = half(lower = true).unionByName(half(lower = false))
      .groupBy("lang", "b").agg(max("m").as("m"))
    hllServe(merged, docs)
  }

  /** THE harmonic-sum estimate over a register table (`keys`, b, m) —
    * one definition for q152/q155/q262 and Events' q228/q263/q236/q261:
    * per key, `regs_hit` registers with an integer-scaled sum `ssum_hit`
    * of 2^(33−m), every register absent from the table charged 2^33, and
    * one double division, `est` = hllNum / (ssum_hit + (hllRegs −
    * regs_hit)·2^33). A densified table (every register present, m = 0
    * where empty) has regs_hit = hllRegs, so the empty charge is an
    * exact integer 0 there. */
  private[ops] def hllEst(reg: DataFrame, keys: Seq[String]): DataFrame =
    reg.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("regs_hit"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - m AS INT))")).as("ssum_hit"))
      .withColumn("est", lit(hllNum) /
        (col("ssum_hit") + (lit(hllRegs) - col("regs_hit")) * lit(hllEmptyTerm)).cast("double"))

  /** The q152 estimate chain over a register table WITHOUT the exact
    * side — the serve plan (q152/q262 split, r16). */
  private def hllServeOnly(reg: DataFrame): DataFrame =
    hllEst(reg, Seq("lang"))
      .select(col("lang"), col("regs_hit"), round2(col("est")).as("hll_est"))

  /** [[hllServeOnly]] plus the exact side as audit baseline — q262's
    * row, and still q155's (the merge-law gate keeps its exact anchor:
    * proving merged ≡ single-pass is the LAW, not a serving path). */
  private def hllServe(reg: DataFrame, docs: DataFrame): DataFrame =
    hllServeOnly(reg)
      .join(docs.groupBy("lang").agg(countDistinct("doc_id").as("n_exact")), Seq("lang"))
      .select("lang", "n_exact", "regs_hit", "hll_est")
      .withColumn("rel_err", round4(abs(col("hll_est") - col("n_exact").cast("double")) /
        col("n_exact").cast("double")))
      .orderBy("lang")

  /** The q136 bucket ladder: pad-to boundaries in tokens; documents
    * past the last boundary are TRUNCATED to it (the fixed-context
    * batching rule). Powers of two, the packing-friendly convention. */
  private val lenBuckets = Seq(16, 32, 64, 128, 256, 512)

  /** q136: sequence-length bucketing for batch inference/training — the
    * padding-waste accounting a dynamic-batching pipeline reads to pick
    * its bucket boundaries: each document pads to the smallest bucket
    * holding it (or truncates to the last), and per (lang, bucket) the
    * table reports docs, real tokens kept, padded slots, tokens lost to
    * truncation, and the waste fraction — pure integer ladders and one
    * rounded ratio, bit-identical cross-engine. (q78 PACKS sequences
    * into fixed contexts; this is the complementary design table for
    * the pad-don't-pack regime, where waste = padding.) Map-side
    * per-doc math; one narrow (lang, bucket) aggregate. */
  lazy val q136_length_buckets: Q = (s, d) => {
    val n = size(col("words")).cast("long")
    val bucket = lenBuckets.init.foldRight(lit(lenBuckets.last.toLong)) {
      case (b, rest) => when(n <= b, lit(b.toLong)).otherwise(rest)
    }
    docShingles(s, d)
      .select(col("lang"), n.as("n"), bucket.as("bucket_len"))
      .groupBy("lang", "bucket_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("n"), col("bucket_len"))).as("token_sum"),
        sum(col("bucket_len")).as("padded_sum"),
        sum(greatest(col("n") - col("bucket_len"), lit(0L))).as("trunc_tokens"))
      .withColumn("waste_frac",
        round4((col("padded_sum") - col("token_sum")).cast("double") /
          col("padded_sum").cast("double")))
      .orderBy("lang", "bucket_len")
  }

  /** TextRank fixed iteration count / rank scale / damping (÷100). */
  private val trIters = 10
  private val trScale = 1000000L

  /** q137: TextRank keyword scoring (Mihalcea & Tarau 2004) — weighted
    * PageRank over the corpus word co-occurrence graph: nodes are words,
    * edges connect ADJACENT words (both directions, weight = adjacency
    * count, self-loops dropped), and rank iterates
    * `r'(v) = 0.15 + 0.85 · Σ_{u→v} r(u)·w(u,v)/wout(u)` for a fixed 10
    * rounds. The arithmetic is integer-scaled (rank × 1e6, per-edge
    * integer div, damping as ×85 div 100) on the q134/q94 determinism
    * ground: integer sums are addition-order-free, so Spark and DuckDB
    * agree bitwise where double PageRank would drift in the last ulp.
    *
    * Scale shape: the ONE corpus-sized pass is the adjacency explode +
    * (src,dst) count — map-side transform, narrow 2-word shuffle key.
    * Everything after is vocabulary-sized: the edge table and rank
    * vector are checkpointed once and each iteration is a vocab×vocab
    * sparse join (broadcastable at any corpus size — the co-occurrence
    * graph grows with the VOCABULARY, not the corpus). The driver loop
    * is the q61/q101/BPE precedent: fixed iterations, localCheckpoint
    * per round to cut lineage, nothing but metadata on the driver. */
  lazy val q137_textrank: Q = (s, d) => {
    val pairs = docShingles(s, d)
      .where(size(col("words")) >= 2) // sequence(1, 0) counts down (q96)
      .select(explode(transform(
        sequence(lit(1), size(col("words")) - 1),
        i => struct(element_at(col("words"), i).as("l"),
          element_at(col("words"), i + 1).as("r")))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .where(col("l") =!= col("r"))
    val ed = pairs.select(col("l").as("src"), col("r").as("dst"))
      .unionAll(pairs.select(col("r").as("src"), col("l").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    // out-weight rides the edge row so iterations join ONLY the rank
    val edN = graft.Ckpt.eager(
      ed.join(ed.groupBy("src").agg(sum("w").as("wout")), "src"))
    var rank = graft.Ckpt.eager(edN.select(col("src").as("word")).distinct()
      .select(col("word"), lit(trScale).as("rank")))
    for (_ <- 1 to trIters) {
      // symmetric edges ⇒ every node has in-edges ⇒ groupBy(dst)
      // preserves the node set across iterations. The rank vector is
      // vocabulary-sized (the doc's broadcastability argument), so
      // broadcasting it turns the per-iteration join map-side: one
      // exchange per round (the groupBy) instead of two (edge shuffle
      // + rank shuffle) — r18, guide §3.1.
      rank = edN.join(broadcast(rank), edN("src") === rank("word"))
        .groupBy(col("dst"))
        .agg(sum(expr("(rank * w) div wout")).as("inc"))
        .select(col("dst").as("word"),
          (lit(15L * trScale / 100L) + expr("(85 * inc) div 100")).as("rank"))
        .pipe(graft.Ckpt.eager)
        .tap(_ => graft.Ckpt.drop(rank)) // predecessor dead once materialized
    }
    rank.select(col("word"), col("rank").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("word"))
      .limit(50)
  }

  /** q168 histogram geometry: 64 equi-width buckets of 16 tokens
    * (bucket = min(63, n_tokens div 16), the last bucket open-ended)
    * and the three probe percentiles a packing/curation pipeline reads
    * (median, p90, p99 document length). */
  private val histBuckets = 63L
  private val histWidth = 16L

  /** q168: MERGEABLE length-histogram sketch + quantile serving — the
    * third sketch family member (q147 CMS = counts, q152 HLL =
    * distincts, q168 = DISTRIBUTION): per ingest half (the q151 id-hash
    * split), a ≤64-cell equi-width histogram of document token counts
    * built map-side; the halves merge by plain per-bucket addition
    * (counts are linear — the q151 merge law); percentiles p50/p90/p99
    * are served FROM the merged cells as the smallest bucket whose
    * running count reaches ⌈p·N/100⌉, reported with the bucket's upper
    * bound in tokens. All integer arithmetic — the target is
    * (p·N + 99) div 100, never a float percentile — so the DuckDB
    * oracle (which builds the histogram in ONE pass over the union)
    * hash-gates the merge law exactly: lost or double-counted mass in
    * the merge moves some running count and flips a served bucket.
    * Scale shape: the sketch is kilobyte state per batch (the
    * CMS/HLL posture); the running sum is a window over ≤64 MERGED
    * cells, never the corpus; quantile accuracy is ± one bucket width
    * (16 tokens) by construction — the trade a histogram sketch
    * makes for O(1) merge and serve. */
  /** (b, cnt) histogram cells over a words frame — the sketch's
    * map-side build, shared by the gated split-build (q168) and the
    * streaming twin ([[graft.streaming.EventStream.histCellsStream]]),
    * the cmsCells convention: one geometry definition, so streamed
    * cells can never drift from the gated ones. */
  private[graft] def histCells(docs: DataFrame): DataFrame =
    docs.select(least(lit(histBuckets),
        floor(size(col("words")) / histWidth.toInt).cast("long")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))

  lazy val q168_hist_quantiles: Q = (s, d) => {
    import s.implicits._
    val src = docShingles(s, d)
    def half(pred: Column) = histCells(src.where(pred))
    val merged = half(idBucket(col("doc_id")) < 50)
      .unionByName(half(idBucket(col("doc_id")) >= 50))
      .groupBy("b").agg(sum("cnt").as("cnt"))
    val wcum = Window.orderBy(col("b").asc)
    val cum = merged.withColumn("n_le", sum(col("cnt")).over(wcum))
    val tot = merged.agg(sum("cnt").as("n_total"))
    val probes = Seq(50L, 90L, 99L).toDF("p")
    cum.crossJoin(broadcast(probes.crossJoin(tot)))
      .where(col("n_le") >= expr("(p * n_total + 99) div 100"))
      .groupBy("p", "n_total").agg(min(struct(col("b"), col("n_le"))).as("m"))
      .select(col("p"), col("m.b").as("bucket"),
        ((col("m.b") + lit(1L)) * histWidth).as("ub_tokens"),
        col("m.n_le").as("n_le"), col("n_total"))
      .orderBy("p")
  }

  /** q171 Bloom geometry: m = 1024 bits, k = 2 positions per key (the
    * first and second 8 md5 hex digits of the content fingerprint, each
    * mod m). */
  private val bloomBits = 1024L

  /** The two bit positions of a 32-hex fingerprint. */
  private def bloomPos(fp: Column): Column = array(
    pmod(conv(substring(fp, 1, 8), 16, 10).cast("long"), lit(bloomBits)),
    pmod(conv(substring(fp, 9, 8), 16, 10).cast("long"), lit(bloomBits)))

  /** q171: MERGEABLE Bloom membership sketch with MEASURED false-
    * positive rate — the fourth sketch family member (CMS = counts,
    * HLL = distincts, q168 = distribution, q171 = MEMBERSHIP): the
    * train half's content fingerprints (q80's md5(norm)) set 2 bits
    * each in a 1024-bit filter built as two QUARTER-corpus sketches
    * merged by bit-OR (set union — the Bloom merge law; a lost bit
    * breaks the no-false-negative guarantee and fails the gate), then
    * EVERY document probes it: hit iff both its positions are set. The
    * gate row carries bits set, probes, true members, Bloom hits,
    * false positives, and the measured FPR over the non-members — the
    * q145 rule: every approximate structure ships with its measured
    * accuracy (the theoretical (1−e^{−kn/m})^k needs libm; the
    * MEASURED rate needs one division). No false negative is possible
    * by construction, and the gate's n_bloom_hits ≥ n_members encodes
    * it. Scale shape: the sketch is ≤1024 rows (kilobyte state,
    * map-side build per batch, union-distinct merge); probing is a
    * broadcast semi-join of 2 positions per doc; the exact-membership
    * audit joins the DISTINCT train fingerprint set — at 100 TB an
    * operator drops the audit columns and keeps the kilobyte filter. */
  lazy val q171_bloom_membership: Q = (s, d) => {
    // pinned: the fingerprint frame feeds the quarter builds, the
    // member audit AND the probe side; the kilobyte bit set feeds the
    // classify join and the bits-set count (the q92/q95 build-once
    // rule — without the checkpoints each reference re-runs its
    // corpus-scan lineage)
    val dfp = graft.Ckpt.eager(docShingles(s, d).select(col("doc_id"),
        idBucket(col("doc_id")).as("ib"), md5(col("norm")).as("fp")))
    def quarter(lo: Long, hi: Long) =
      dfp.where(col("ib") >= lo && col("ib") < hi)
        .select(explode(bloomPos(col("fp"))).as("pos")).distinct()
    val bits = graft.Ckpt.eager(
      quarter(0L, 25L).unionByName(quarter(25L, 50L)).distinct())
    val trainFps = dfp.where(col("ib") < 50).select("fp").distinct()
    // hit and position counts in ONE pass over the exploded positions
    // (a left join carrying the bit-set membership flag), not a
    // semi-join pass plus a count pass
    val perDocPos = dfp.select(col("doc_id"),
        explode(array_distinct(bloomPos(col("fp")))).as("pos"))
      .join(broadcast(bits.withColumn("hitb", lit(1L))), Seq("pos"), "left")
      .groupBy("doc_id").agg(count(lit(1)).as("n_pos"),
        sum(coalesce(col("hitb"), lit(0L))).as("n_hit"))
    val perDoc = dfp
      .join(perDocPos, "doc_id")
      .join(trainFps.withColumn("is_member", lit(1L)), Seq("fp"), "left")
      .select(
        when(col("n_hit") === col("n_pos"), 1L).otherwise(0L).as("hit"),
        coalesce(col("is_member"), lit(0L)).as("member"))
    perDoc.agg(
        count(lit(1)).as("n_probes"),
        sum(col("member")).as("n_members"),
        sum(col("hit")).as("n_bloom_hits"),
        sum(when(col("hit") === 1 && col("member") === 0, 1L).otherwise(0L))
          .as("n_false_pos"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("n_bits_set"))))
      .select(col("n_bits_set"), col("n_probes"), col("n_members"),
        col("n_bloom_hits"), col("n_false_pos"),
        when(col("n_probes") - col("n_members") === 0, lit(null).cast("double"))
          .otherwise(round4(col("n_false_pos").cast("double") /
            (col("n_probes") - col("n_members")).cast("double"))).as("fpr"))
  }

  /** q266's flag threshold, duplicate-bigram basis points — chosen
    * where the corpus SPLITS (median 281 bp, ~6% of docs above; the
    * q198 threshold-selection rule: a gate that flags nothing or
    * everything proves nothing). */
  private[graft] val repDupBp = 800L

  /** q266: REPETITION FILTER (Gopher-style) — the within-document
    * repetition quality rule every crawl-curation stack runs (Rae et
    * al. 2021's repetition signals; reference corpus has no analog —
    * this is the LLM-pipeline family): a document whose n-grams repeat
    * heavily is boilerplate/spam/degenerate generation, not prose.
    * Signal = duplicate-BIGRAM mass: (n_bigrams − n_distinct_bigrams)
    * / n_bigrams in integer basis points (trigrams are zero-signal on
    * this vocabulary; unigrams saturate — measured, SURVEY r16). Both
    * counts are pure ARRAY ops on the memoized words column — no
    * explode, no shuffle beyond the final sort: the per-doc set
    * arithmetic a 100 TB curation pass wants. Docs under 2 words have
    * no bigrams and surface NULL (not 0 — "no evidence" ≠ "clean").
    * The `sequence(1, n)` reversal trap is guarded (size ≥ 2). */
  lazy val q266_repetition_filter: Q = (s, d) =>
    repetitionStats(docShingles(s, d)).orderBy("doc_id")

  /** The word-bigram array of a `words` column (empty below 2 words;
    * the `sequence(1, n)` reversal trap guarded) — shared by q266's
    * per-doc stats and q279's corpus-grain counts. */
  private[graft] def bigramsCol(words: Column): Column =
    when(size(words) >= 2,
      transform(sequence(lit(1), size(words) - 1),
        i => concat_ws(" ", element_at(words, i), element_at(words, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** q266's per-doc arithmetic over a frame carrying `words` — shared
    * VERBATIM by the batch row and the streaming twin
    * ([[graft.streaming.EventStream.repetitionStream]]); stateless, so
    * the stream is a plain select over the same expressions. */
  private[graft] def repetitionStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), bigramsCol(col("words")).as("bigrams"))
      .select(col("doc_id"),
        size(col("bigrams")).cast("long").as("n_grams"),
        size(array_distinct(col("bigrams"))).cast("long").as("nd"))
      .withColumn("n_dup", col("n_grams") - col("nd"))
      .withColumn("dup_bp", when(col("n_grams") > 0,
        expr("n_dup * 10000 div n_grams")).otherwise(lit(null).cast("long")))
      .withColumn("flagged", when(col("dup_bp").isNull, lit(null).cast("long"))
        .otherwise(when(col("dup_bp") > repDupBp, 1L).otherwise(0L)))
      .select("doc_id", "n_grams", "n_dup", "dup_bp", "flagged")

  /** q267's PII patterns — identical literals in both engines (simple
    * character classes, no engine-divergent constructs). */
  private[graft] val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val phoneRe = "\\+1-555-[0-9]+"

  /** q267: PII SCRUB — detection + redaction accounting, the curation
    * pass legal teams require before text ships to training. The
    * corpus carries no PII, so the gate PLANTS it deterministically
    * (the q217/q264 planted-corpus trick, md5-bucketed so both engines
    * plant the identical rows): buckets < 15 gain an email, 15–19 a
    * phone number. The operator then: counts matches per doc, redacts
    * with [EMAIL]/[PHONE], and reports per source — doc counts, PII
    * doc counts, the redacted-length checksum (catches a wrong
    * replacement the counts alone would miss), and residual_pii_docs,
    * which the oracle PROVES is zero (redaction actually removed every
    * match — a gate, not an assertion). Scale: one map-shaped pass +
    * a source-keyed aggregate; regex stays inside codegen. */
  /** q267's per-doc detection/redaction over a frame carrying `t2`
    * (the text to scrub) — shared VERBATIM by the batch row and the
    * streaming twin ([[graft.streaming.EventStream.piiScrubStream]]);
    * stateless. */
  private[graft] def piiScrubCols(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_email", regexp_count(col("t2"), lit(emailRe)))
      .withColumn("n_phone", regexp_count(col("t2"), lit(phoneRe)))
      .withColumn("red", regexp_replace(
        regexp_replace(col("t2"), emailRe, "[EMAIL]"), phoneRe, "[PHONE]"))
      .withColumn("residual",
        regexp_count(col("red"), lit(emailRe)) +
          regexp_count(col("red"), lit(phoneRe)))

  lazy val q267_pii_scrub: Q = (s, d) => {
    val b = graft.ops.TextCore.idBucket(col("doc_id"))
    val planted = s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("source"),
        when(b < 15, concat(col("text"), lit(" contact: user"),
            col("doc_id").cast("string"), lit("@example.com")))
          .when(b < 20, concat(col("text"), lit(" phone: +1-555-"),
            col("doc_id").cast("string")))
          .otherwise(col("text")).as("t2"))
    val scrubbed = piiScrubCols(planted)
    scrubbed.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_email") > 0, 1L).otherwise(0L)).as("n_email_docs"),
        sum(when(col("n_phone") > 0, 1L).otherwise(0L)).as("n_phone_docs"),
        sum(length(col("red"))).cast("long").as("redacted_len_sum"),
        sum(when(col("residual") > 0, 1L).otherwise(0L)).as("residual_pii_docs"))
      .orderBy("source")
  }

  /** q268: MIXTURE WEIGHTS WITH TEMPERATURE — the multilingual/
    * multi-source sampling rule (Arivazhagan et al. 2019's T-scaled
    * sampling; the "don't let the biggest crawl drown the small
    * high-quality source" knob): sampling weight ∝ share^(1/T) with
    * T = 2, i.e. w_i ∝ √n_i — upweights small sources, downweights
    * large ones. √ is the ONE libm-free root (correctly-rounded IEEE,
    * the q174/q190 rule), and each per-source √ is quantized to an
    * integer (⌊√n·100⌋) BEFORE the normalizing sum, so the sum is
    * integer and order-free — no float aggregation ever crosses
    * engines. Output: natural share and temperature weight, both exact
    * integer basis points; the 1-row totals ride a broadcast cross
    * join (the q224 pattern, source-domain-bounded input). */
  lazy val q268_mixture_temperature: Q = (s, d) => {
    val perSource = docShingles(s, d)
      .groupBy("source")
      .agg(sum(size(col("words")).cast("long")).as("n_tokens"))
      .withColumn("sq", floor(sqrt(col("n_tokens").cast("double")) * 100).cast("long"))
    perSource
      .crossJoin(broadcast(perSource.agg(
        sum("n_tokens").as("tot_tokens"), sum("sq").as("tot_sq"))))
      .select(col("source"), col("n_tokens"),
        expr("n_tokens * 10000 div tot_tokens").as("share_bp"),
        expr("sq * 10000 div tot_sq").as("w_temp_bp"))
      .orderBy("source")
  }

  /** q270's knobs: the token budget as a multiple of the corpus, and
    * the data-constrained epoch cap (×100) — Muennighoff et al. 2023's
    * "about 4 epochs before repetition stops helping" rule. */
  private[graft] val epochBudgetX = 3L
  private[graft] val epochCapX100 = 400L

  /** q270: EPOCH ALLOCATION under a token budget — the planning step
    * after q268's mixture weights: given a budget of
    * [[epochBudgetX]]× the corpus tokens, each source's allocation is
    * its temperature weight's share of the budget, expressed as epochs
    * over the source's own tokens and CAPPED at [[epochCapX100]]
    * (repeating a small source beyond ~4 epochs burns budget for no
    * gain — the data-constrained scaling rule). `capped` marks the
    * sources where the cap bound, i.e. where the mixture wants more of
    * the source than repetition can usefully supply — the "go collect
    * more of THIS" report. Integer throughout; the budget-per-weight
    * quotient is computed once at ×1000 scale in a DOCUMENTED
    * operation order (`sq·((3·tot·1000) div tot_sq) div 1000`) so the
    * product never exceeds int64 even at 100 TB token counts (3·tot ≤
    * ~10¹⁴, the quotient ~10⁴–10⁶, sq ≤ ~10⁸). */
  lazy val q270_epoch_allocation: Q = (s, d) => {
    val perSource = docShingles(s, d)
      .groupBy("source")
      .agg(sum(size(col("words")).cast("long")).as("n_tokens"))
      .withColumn("sq", floor(sqrt(col("n_tokens").cast("double")) * 100).cast("long"))
    perSource
      .crossJoin(broadcast(perSource.agg(
        sum("n_tokens").as("tot_tokens"), sum("sq").as("tot_sq"))))
      .withColumn("w_temp_bp", expr("sq * 10000 div tot_sq"))
      .withColumn("alloc_tokens", expr(
        s"sq * (($epochBudgetX * tot_tokens * 1000) div tot_sq) div 1000"))
      .withColumn("epochs_raw_x100",
        expr("CASE WHEN n_tokens > 0 THEN alloc_tokens * 100 div n_tokens END"))
      .select(col("source"), col("n_tokens"), col("w_temp_bp"),
        col("alloc_tokens"),
        least(col("epochs_raw_x100"), lit(epochCapX100)).as("epochs_x100"),
        when(col("epochs_raw_x100").isNull, lit(null).cast("long"))
          .otherwise(when(col("epochs_raw_x100") > epochCapX100, 1L)
            .otherwise(0L)).as("capped"))
      .orderBy("source")
  }

  /** q279's knobs: minimum bigram support and the report size. */
  private[graft] val collocMinSupport = 5L
  private[graft] val collocTopK = 20

  /** q279: COLLOCATION MINING — the highest-lift adjacent word pairs,
    * the text-analytics rung that finds multi-word terms ("new york",
    * "machine learning") a unigram tokenizer treats as noise: lift =
    * P(ab) / (P(a)·P(b)) = c_ab·N_t² / (N_b·c_a·c_b), kept as an
    * EXACT integer ×100 cross-multiplication through DECIMAL(38,0)
    * (PMI's log is presentation — ranking by lift ≡ ranking by PMI;
    * no libm). Numerator bound: c_ab·N_t²·100 stays under 10³⁸ while
    * c_ab·N_t² < 10³⁶ — at 2.5·10¹³ corpus tokens that allows c_ab up
    * to ~10⁹, documented like q258's. Support ≥ [[collocMinSupport]]
    * kills one-off flukes; top-[[collocTopK]] by (lift desc, bigram
    * asc) is a deterministic total order. Scale: two corpus-grain
    * aggregates (unigrams, bigrams) and vocabulary-keyed equi joins —
    * AQE elects broadcast while the unigram table is small. */
  /** The (id-bucket, word) token-count CELL table — (ib, w, cw) with
    * ib = the q70 [[idBucket]] of the emitting doc — the r19 shared
    * corpus pass the word-marginal family folds from (the verdict-
    * ordered "(word, idBucket)" artifact): every consumer's statistic
    * is a per-word-TYPE function weighted by token counts, and counts
    * fold exactly across the bucket partition (buckets partition docs,
    * so Σ_ib cw ≡ the corpus count of w; an ib-range slice ≡ the
    * count over that doc split). Bounded by vocabulary × 100 — type
    * space, never the token stream (the q212 rule). Consumers:
    * [[unigramCounts]] (→ q279/q338 totals), q96's char-pair table,
    * q147's exact top-k + sketch, q151's per-half sketches, and the
    * BPE family's train-split vocab (q102/q104/q106). UNFILTERED
    * (empty-string tokens retained) so token totals fold from it. */
  private[graft] def wordIdCells(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo(s, d, "text:wordIdCells")(
      docShingles(s, d)
        .select(idBucket(col("doc_id")).as("ib"), explode(col("words")).as("w"))
        .groupBy("ib", "w").agg(count(lit(1)).as("cw")))(_.localCheckpoint(true))

  /** The corpus unigram type-count table (w, cw) — vocabulary-bounded,
    * UNFILTERED (empty-string tokens retained so token totals fold from
    * it), session-memoized (r18): q279 reads it filtered and derives
    * its totals row, replacing per-rep corpus explodes. r19: folds
    * from [[wordIdCells]] (Σ over ib — exact), so the corpus explode
    * runs once per session for the whole word-marginal family. */
  private[graft] def unigramCounts(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo(s, d, "text:unigramCounts")(
      wordIdCells(s, d).groupBy("w").agg(sum("cw").as("cw")))(_.localCheckpoint(true))

  /** The (source, word) count cells — source×vocabulary-bounded,
    * session-memoized (r19): q307's shape audit and q316's cosine grid
    * both aggregated the identical (source, w, c) marginal per rep
    * (q316 under a per-rep persist). One materialized artifact, built
    * once per session. */
  private[graft] def sourceWordCells(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo(s, d, "text:sourceWordCells")(
      docShingles(s, d)
        .select(col("source"), explode(col("words")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c")))(_.localCheckpoint(true))

  /** The corpus bigram type-count table (bg, cab) — bigram-vocabulary-
    * bounded (type counts, not tokens — the standard LM count-table
    * materialization), session-memoized (r18): q279's collocation
    * join and q338's frequency-of-frequencies both fold from it. */
  private[graft] def bigramCounts(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo(s, d, "text:bigramCounts")(
      docShingles(s, d).select(explode(bigramsCol(col("words"))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cab")))(_.localCheckpoint(true))

  lazy val q279_collocations: Q = (s, d) => {
    val uni = unigramCounts(s, d).where(col("w") =!= "")
    val bi = bigramCounts(s, d).where(col("cab") >= collocMinSupport)
    // token totals fold from the memoized type counts exactly:
    // Σ cw ≡ Σ size(words) (explode emits one row per token, empties
    // included) and Σ cab ≡ Σ max(size − 1, 0)
    val tot = unigramCounts(s, d).agg(sum("cw").as("nt"))
      .crossJoin(bigramCounts(s, d).agg(sum("cab").as("nb")))
    bi
      .withColumn("wa", split(col("bg"), " ").getItem(0))
      .withColumn("wb", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("w").as("wa"), col("cw").as("ca")), Seq("wa"))
      .join(uni.select(col("w").as("wb"), col("cw").as("cb")), Seq("wb"))
      .crossJoin(broadcast(tot))
      .withColumn("lift_x100", expr(
        """CAST(cab AS DECIMAL(38, 0)) * nt * nt * 100
          |div (CAST(nb AS DECIMAL(38, 0)) * ca * cb)""".stripMargin))
      .select(col("wa"), col("wb"), col("cab"), col("lift_x100"))
      .orderBy(col("lift_x100").desc, col("wa").asc, col("wb").asc)
      .limit(collocTopK)
  }

  /** q307: VOCABULARY SHAPE AUDIT per source — the Zipf-tail readout
    * that q41 (per-lang counts) and q42 (per-doc TTR) don't expose:
    * per source, the distinct-type count, the HAPAX share (types seen
    * exactly once — a synthetic/templated source has almost none; an
    * OCR-noise source has too many), and the head mass (share of all
    * tokens taken by the single most frequent type — boilerplate
    * screams here). All integer basis points off one (source, word)
    * count table; the head-mass argmax window partitions per source
    * over its vocabulary (vocabulary-bounded, never token count).
    * Both tails of the curve in one row — the source-triage signal a
    * curation run reads next to q83's duplication stats. */
  val q307_vocab_shape: Q = (s, d) => {
    // r19: reads the memoized (source, word) cells — q316 aggregates
    // the identical marginal (see [[sourceWordCells]])
    val wc = sourceWordCells(s, d)
    wc.groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        max("c").as("top_c"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("n_types * 10000 div n_tokens").as("ttr_bp"),
        expr("n_hapax * 10000 div n_types").as("hapax_bp"),
        expr("top_c * 10000 div n_tokens").as("head_mass_bp"))
      .orderBy("source")
  }

  /** q335: HEAPS-LAW VOCABULARY GROWTH — the curve q307's one-row
    * shape audit summarizes (q97 tracks when whole-DOCUMENT novelty
    * dried up; a tokenizer/vocab budget decision needs the TYPE curve:
    * how fast does distinct vocabulary grow as token mass accrues?):
    * the corpus in crawl order (doc_id) is cut at ten DECILE
    * checkpoints (`doc_id·10 div (max_id+1)` — bounded output, never a
    * per-batch row stream), and each row carries cumulative docs,
    * tokens, first-occurrence types (min doc_id per type — the
    * q244/q97 attribution convention) and the integer density
    * `types·10⁴ div tokens`, whose decay down the rows IS the Heaps
    * exponent readout. Scale shape: one exploded token pass feeding a
    * token-keyed min aggregate and a decile-keyed count; the
    * cumulative window runs over ≤ 10 decile rows (allowlisted); the
    * max-id scalar rides as a 1-row broadcast (the q212 rule). */
  val q335_heaps_curve: Q = (s, d) =>
    heapsFromDocWords(docShingles(s, d).select(col("doc_id"), col("words")))

  /** q335's body over any (doc_id, words) frame — factored so the spec
    * can pin first-occurrence crediting, the empty-prefix NULL density
    * and the decile arithmetic on a hand corpus. */
  private[graft] def heapsFromDocWords(ds: DataFrame): DataFrame = {
    val md = ds.agg(max(col("doc_id")).as("md"))
    val docsPer = ds.select(col("doc_id")).crossJoin(broadcast(md))
      .select(expr("doc_id * 10 div (md + 1)").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_docs"))
    // token mass rides map-side off size(words) — identical to counting
    // exploded rows, without a second explode pass
    val toksPer = ds.select(col("doc_id"), size(col("words")).cast("long").as("nt"))
      .crossJoin(broadcast(md))
      .select(expr("doc_id * 10 div (md + 1)").as("decile"), col("nt"))
      .groupBy("decile").agg(sum("nt").as("n_tokens"))
    val typesPer = ds.select(col("doc_id"), explode(col("words")).as("w"))
      .groupBy("w").agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(md))
      .select(expr("fd * 10 div (md + 1)").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_types"))
    val wcum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPer.join(toksPer, Seq("decile"), "full")
      .join(typesPer, Seq("decile"), "full")
      .na.fill(0L, Seq("n_docs", "n_tokens", "n_types"))
      .select(col("decile"),
        sum("n_docs").over(wcum).as("cum_docs"),
        sum("n_tokens").over(wcum).as("cum_tokens"),
        sum("n_types").over(wcum).as("cum_types"))
      .withColumn("types_per_10k_tok", expr(
        "CASE WHEN cum_tokens > 0 THEN cum_types * 10000 div cum_tokens END"))
      .orderBy("decile")
  }

  /** q338: GOOD–TURING FREQUENCY SMOOTHING — the unseen-mass estimator
    * the LM family quotes but q188/q134 never gate (add-one smoothing
    * is the strawman; Good–Turing is the classical answer to "how much
    * probability belongs to types we have NEVER seen?"): from the
    * corpus frequency-of-frequencies table N_r (types seen exactly r
    * times — value-domain-bounded), each head count r ∈ 1..10 gets the
    * adjusted count r* = (r+1)·N_{r+1}/N_r in exact ×10⁴ integer units
    * (NULL where N_r = 0 — undefined, not zero; a zero N_{r+1} gives
    * the honest r* = 0), and every row carries p0 = N_1/N in bp — THE
    * Good–Turing unseen mass. The grain is the BIGRAM type (the shared
    * [[bigramsCol]] — one definition with q188/q266/q279), where the
    * head actually lives: this corpus's unigram vocabulary is small
    * and saturated (min count ≈ 26 — every N_{r≤10} would be 0), while
    * bigram hapaxes exist at every scale, and GT smoothing FOR the
    * q188 bigram LM is exactly its textbook use. Scale shape: one
    * exploded bigram pass to type counts, one count-keyed aggregate to
    * N_r, a fixed 10-row spine; the totals ride as a 1-row broadcast
    * (the q212 rule). */
  val q338_good_turing: Q = (s, d) =>
    // the bigram type counts arrive from the session memo (r18) —
    // same marginal q279 joins on, one corpus explode per session
    goodTuringFromCounts(bigramCounts(s, d)
      .select(col("bg").as("w"), col("cab").as("c")))

  /** q338's body over any (w, c) type-count frame — factored so the
    * spec can pin r*, the N_r = 0 NULL vs N_{r+1} = 0 zero distinction
    * and the p0 mass on hand counts. */
  private[graft] def goodTuringFromCounts(wc: DataFrame): DataFrame = {
    val nr = graft.Ckpt.persisted(
      wc.groupBy("c").agg(count(lit(1)).as("n_r")))
    val tot = nr.agg(sum(expr("c * n_r")).as("n_tok"),
      coalesce(sum(when(col("c") === 1L, col("n_r"))), lit(0L)).as("n1"))
    val sp = wc.sparkSession.sql("SELECT explode(sequence(1L, 10L)) AS r")
    sp.join(nr.withColumnRenamed("c", "r"), Seq("r"), "left")
      .join(nr.select((col("c") - 1L).as("r"), col("n_r").as("n_next")),
        Seq("r"), "left")
      .na.fill(0L, Seq("n_r", "n_next"))
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"), col("n_next"),
        expr("""CASE WHEN n_r > 0
                THEN (r + 1) * n_next * 10000L div n_r END""")
          .as("r_star_x10k"),
        expr("CASE WHEN n_tok > 0 THEN n1 * 10000L div n_tok END")
          .as("p0_bp"))
      .orderBy("r")
  }

  /** q313: LANG-ID CONFUSION MATRIX — the evaluation row for q40's
    * heuristic (a predictor that ships without its confusion matrix is
    * a rumor): predicted × actual label counts plus per-cell share of
    * the actual class (recall_bp on the diagonal). Honest readout: the
    * function-word heuristic is crude and the synthetic corpus is one
    * vocabulary — the matrix SHOWS that, which is the point of gating
    * the evaluation rather than the claim. Reads q40's gated output
    * verbatim (one definition). Scale: q40's map-side scoring, then a
    * langs²-bounded aggregate. */
  val q313_langid_confusion: Q = (s, d) => {
    val pred = q40_lang_id(s, d).select("doc_id", "pred_lang")
    val actual = docShingles(s, d).select(col("doc_id"), col("lang"))
    val cells = pred.join(actual, "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    cells
      .join(broadcast(cells.groupBy("lang")
        .agg(sum("n_docs").as("n_lang"))), "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        expr("n_docs * 10000 div n_lang").as("share_bp"))
      .orderBy("lang", "pred_lang")
  }

  /** q316: SOURCE VOCABULARY SIMILARITY — the distributional mirror
    * detector beside q278's cluster-based one (q278 needs documents to
    * be NEAR-DUPLICATES; two sources can share a vocabulary profile —
    * same template, same generator, same scraped site section —
    * without one verbatim pair): cosine between source word-count
    * vectors, top-15 pairs. Exact integer dot/norms in DECIMAL(38,0)
    * (counts can square past 2⁶³), one sqrt and one division in
    * doubles with identical operation order, floored to e6 units
    * (the q275 convention). Scale: the (source, word) table is
    * vocabulary×sources-bounded; the pair dot joins on the word key —
    * never a doc-level op; the final grid is sources²-bounded. */
  val q316_source_similarity: Q = (s, d) => {
    // r19: the per-rep persist of the (source, word) marginal becomes
    // a read of the session memo q307 shares (the r18 retrieval-trio
    // rule: never re-cache an already-materialized artifact)
    val wc = sourceWordCells(s, d)
    val norms = wc.groupBy("source")
      .agg(sum(expr("CAST(c AS DECIMAL(38, 0)) * c")).as("nsq"))
    val dots = wc
      .join(wc.select(col("source").as("sb"), col("w"), col("c").as("cb")), "w")
      .where(col("source") < col("sb"))
      .groupBy(col("source").as("sa"), col("sb"))
      .agg(sum(expr("CAST(c AS DECIMAL(38, 0)) * cb")).as("dot"))
    dots
      .join(broadcast(norms.select(col("source").as("sa"),
        col("nsq").as("na"))), "sa")
      .join(broadcast(norms.select(col("source").as("sb"),
        col("nsq").as("nb"))), "sb")
      .select(col("sa"), col("sb"),
        expr("""CAST(floor(CAST(dot AS DOUBLE)
                           / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                           * 1000000) AS BIGINT)""").as("cos_e6"))
      .orderBy(col("cos_e6").desc, col("sa").asc, col("sb").asc)
      .limit(15)
  }

  val queries: Map[String, Q] = Map(
    "q307_vocab_shape" -> q307_vocab_shape,
    "q335_heaps_curve" -> q335_heaps_curve,
    "q338_good_turing" -> q338_good_turing,
    "q316_source_similarity" -> q316_source_similarity,
    "q308_score_calibration" -> q308_score_calibration,
    "q313_langid_confusion" -> q313_langid_confusion,
    "q168_hist_quantiles" -> q168_hist_quantiles,
    "q171_bloom_membership" -> q171_bloom_membership,
    "q40_lang_id" -> q40_lang_id,
    "q41_token_stats" -> q41_token_stats,
    "q42_quality_score" -> q42_quality_score,
    "q249_quantile_uniform" -> q249_quantile_uniform,
    "q250_token_mass_quantiles" -> q250_token_mass_quantiles,
    "q266_repetition_filter" -> q266_repetition_filter,
    "q267_pii_scrub" -> q267_pii_scrub,
    "q268_mixture_temperature" -> q268_mixture_temperature,
    "q270_epoch_allocation" -> q270_epoch_allocation,
    "q279_collocations" -> q279_collocations,
    "q43_fingerprint" -> q43_fingerprint,
    "q44_bpe_tokens" -> q44_bpe_tokens,
    "q64_rare_terms" -> q64_rare_terms,
    "q65_chunk_docs" -> q65_chunk_docs,
    "q66_chunk_dedup" -> q66_chunk_dedup,
    "q71_balanced_sample" -> q71_balanced_sample,
    "q72_token_percentiles" -> q72_token_percentiles,
    "q76_repetition_filter" -> q76_repetition_filter,
    "q91_token_pctl_approx" -> q91_token_pctl_approx,
    "q94_tfidf_terms" -> q94_tfidf_terms,
    "q96_bpe_merge_pairs" -> q96_bpe_merge_pairs,
    "q102_bpe_train" -> q102_bpe_train,
    "q104_bpe_compression" -> q104_bpe_compression,
    "q106_bpe_heldout" -> q106_bpe_heldout,
    "q134_surprisal" -> q134_surprisal,
    "q188_bigram_lm" -> q188_bigram_lm,
    "q234_ppl_filter" -> q234_ppl_filter,
    "q143_dsir_weights" -> q143_dsir_weights,
    "q146_dsir_bigram" -> q146_dsir_bigram,
    "q136_length_buckets" -> q136_length_buckets,
    "q137_textrank" -> q137_textrank,
    "q138_bpe_batched" -> q138_bpe_batched,
    "q147_cms_topk" -> q147_cms_topk,
    "q148_nb_langid" -> q148_nb_langid,
    "q151_cms_merge" -> q151_cms_merge,
    "q152_hll_registers" -> q152_hll_registers,
    "q155_hll_merge" -> q155_hll_merge,
    "q262_hll_card_audit" -> q262_hll_card_audit,
    "q156_bpe_model_serve" -> q156_bpe_model_serve,
    "q163_quality_perceptron" -> q163_quality_perceptron)

  // ---------------------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------------------

  /** One unrolled batch-perceptron epoch for the q163 oracle: margins
    * under the previous epoch's weights, the misclassified delta fold
    * (the bias row's count IS the misclassified-doc count), and the
    * merged weight table under the damped average step — integer
    * arithmetic end to end, so the replay is exact, not approximate.
    * The division is spelled truncation-toward-zero (a sign-guarded
    * `//`): DuckDB's bare `//` floors and would diverge from the
    * driver-side Scala `/` on negative deltas. A mis = 0 epoch leaves
    * weights unchanged — the Spark loop's early stop, same fixpoint. */
  private def qpEpochCte(i: Int): String =
    s"""m$i AS MATERIALIZED (
       |  SELECT f.doc_id, coalesce(sum(w.w * f.x), 0) AS m
       |  FROM featr f LEFT JOIN w${i - 1} w USING (b) GROUP BY 1),
       |u$i AS MATERIALIZED (
       |  SELECT f.b, CAST(sum(l.y * f.x) AS BIGINT) AS dw,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM m$i m JOIN lab l USING (doc_id) JOIN featr f USING (doc_id)
       |  WHERE l.y * m.m <= 0 GROUP BY 1),
       |c$i AS MATERIALIZED (SELECT coalesce(max(CASE WHEN b = -1 THEN n END), 0) AS mis FROM u$i),
       |w$i AS MATERIALIZED (
       |  SELECT coalesce(w.b, u.b) AS b,
       |         CAST(coalesce(w.w, 0) + CASE WHEN c.mis = 0 THEN 0
       |           WHEN coalesce(u.dw, 0) >= 0
       |             THEN coalesce(u.dw, 0) // (c.mis * $i)
       |           ELSE -((-coalesce(u.dw, 0)) // (c.mis * $i)) END AS BIGINT) AS w
       |  FROM w${i - 1} w FULL JOIN u$i u ON w.b = u.b CROSS JOIN c$i c)""".stripMargin

  private val ratioSql =
    s"""CASE WHEN len(words) = 0 THEN 0.0
       |ELSE CAST(len(list_filter(words, w -> list_contains([$stopList], w))) AS DOUBLE) /
       |     CAST(len(words) AS DOUBLE) END""".stripMargin

  /** `qual` CTE: docs + quality columns (mirrors [[withQuality]]); shared
    * with the composite pipeline oracle. */
  val qualCte: String =
    s"""qual AS (
       |  SELECT *, ${round4Sql("0.5*ttr + 0.3*(1.0 - stop_ratio) + 0.2*least(CAST(n_tokens AS DOUBLE)/64.0, 1.0)")} AS score
       |  FROM (
       |    SELECT docs.*,
       |           CAST(len(words) AS BIGINT) AS n_tokens,
       |           ${round4Sql("CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE)")} AS ttr,
       |           ${round4Sql("CAST(list_aggregate(list_transform(words, w -> length(w)), 'sum') AS DOUBLE) / CAST(len(words) AS DOUBLE)")} AS avg_wlen,
       |           ${round4Sql(s"CAST(len(list_filter(words, w -> list_contains([$stopList], w))) AS DOUBLE) / CAST(len(words) AS DOUBLE)")} AS stop_ratio
       |    FROM docs))""".stripMargin

  /** One unrolled BPE training iteration for the q102/q104 oracles: pair
    * counts `pc$i` over vocab `v${i-1}`, the argmax merge `m$i` ((freq
    * desc, l, r) — matching Spark's orderBy exactly), and the merged
    * vocab `v$i` via the same literal boundary-string replace. `v$i`
    * LEFT JOINs the (0-or-1-row) merge so an EXHAUSTED training run —
    * m$i empty before the k-th iteration — passes the vocab through
    * unchanged, mirroring Spark's early-stop (an inner/cross join would
    * empty the vocab chain and make q104 fall back to character tokens
    * while Spark applies the learned merges). */
  private def bpeIterCte(i: Int): String =
    s"""pc$i AS (
       |  SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS freq
       |  FROM (
       |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
       |             j -> {'l': sy[j], 'r': sy[j+1]})) AS p
       |    FROM (SELECT cnt, string_split(substr(sym, 2, length(sym) - 2), '||') AS sy
       |          FROM v${i - 1})
       |    WHERE len(sy) >= 2)
       |  GROUP BY 1, 2),
       |m$i AS (SELECT l, r, freq FROM pc$i ORDER BY freq DESC, l, r LIMIT 1),
       |v$i AS (
       |  SELECT coalesce(replace(sym, '|' || l || '||' || r || '|',
       |                          '|' || l || r || '|'), sym) AS sym, cnt
       |  FROM v${i - 1} LEFT JOIN m$i ON TRUE)""".stripMargin

  /** One unrolled BATCHED-BPE pass for the q138 oracle, mirroring a
    * [[bpeTrainBatched]] loop iteration exactly:
    *  - `cand$i`: the frozen pair-count table of vocab `bv${i-1}` ranked
    *    (freq desc, l, r), top 8×batch pool;
    *  - `sel$i`: a RECURSIVE single-row walk down the ranked pool
    *    carrying the used-symbol list — candidate rn is taken iff fewer
    *    than `batch` picks so far and none of {l, r, l||r} is used (the
    *    Scala iterator's exact filter; k is a multiple of batch so the
    *    remaining-merges cap never binds below batch);
    *  - `pk$i`: the final picks row (max rn);
    *  - `bv$i`: all selected replaces applied in one projection —
    *    disjointness makes the nesting order immaterial, matching the
    *    foldLeft.
    * Every CTE is MATERIALIZED: the pass chain references each level
    * from two consumers (next pass + step output), and DuckDB would
    * otherwise inline the tree exponentially. */
  private def bpeBatchedPassCtes(i: Int): String = {
    val b = bpeBatchGateB
    val ok = s"len(s.picks) < $b AND NOT list_contains(s.used, c.l) " +
      "AND NOT list_contains(s.used, c.r) AND NOT list_contains(s.used, c.l || c.r)"
    val applied = (1 to b).foldLeft("sym") { (acc, j) =>
      s"(CASE WHEN len(pk.picks) >= $j THEN replace($acc, " +
        s"'|' || (pk.picks[$j]).l || '||' || (pk.picks[$j]).r || '|', " +
        s"'|' || (pk.picks[$j]).l || (pk.picks[$j]).r || '|') ELSE $acc END)"
    }
    s"""cand$i AS MATERIALIZED (
       |  SELECT l, r, freq, rn FROM (
       |    SELECT l, r, freq, row_number() OVER (ORDER BY freq DESC, l, r) AS rn FROM (
       |      SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS freq
       |      FROM (
       |        SELECT cnt, unnest(list_transform(range(1, len(sy)),
       |                 j -> {'l': sy[j], 'r': sy[j+1]})) AS p
       |        FROM (SELECT cnt, string_split(substr(sym, 2, length(sym) - 2), '||') AS sy
       |              FROM bv${i - 1})
       |        WHERE len(sy) >= 2)
       |      GROUP BY 1, 2))
       |  WHERE rn <= ${8 * b}),
       |sel$i AS MATERIALIZED (
       |  SELECT 0 AS rn, CAST([] AS VARCHAR[]) AS used,
       |         CAST([] AS STRUCT(l VARCHAR, r VARCHAR, freq BIGINT)[]) AS picks
       |  UNION ALL
       |  SELECT c.rn,
       |    CASE WHEN $ok THEN s.used || [c.l, c.r, c.l || c.r] ELSE s.used END,
       |    CASE WHEN $ok THEN s.picks || [{'l': c.l, 'r': c.r, 'freq': c.freq}]
       |         ELSE s.picks END
       |  FROM sel$i s JOIN cand$i c ON c.rn = s.rn + 1),
       |pk$i AS MATERIALIZED (SELECT picks FROM sel$i ORDER BY rn DESC LIMIT 1),
       |bv$i AS MATERIALIZED (SELECT $applied AS sym, cnt FROM bv${i - 1}, pk$i pk)"""
      .stripMargin
  }

  /** The q138 oracle: bv0 (the [[bpeChainCtesFrom]] v0 under another
    * name — the batched chain must not collide with the sequential
    * chain's CTEs when both gates run in one DuckDB session), the
    * unrolled passes, and the picks flattened to (step, l, r, freq)
    * with steps numbered consecutively across passes (an early-dry pass
    * shifts later numbering exactly like the Scala merges.size + i). */
  private def bpeBatchedOracleSql: String = {
    val nPass = bpeBatchGateK / bpeBatchGateB
    def steps(i: Int): String = {
      val off = (1 until i).map(j => s"(SELECT len(picks) FROM pk$j)")
        .mkString(" + ") match { case "" => "0"; case s => s }
      s"""(SELECT CAST(($off) + j AS BIGINT) AS step, (picks[j]).l AS left_sym,
         |        (picks[j]).r AS right_sym, (picks[j]).freq AS freq
         | FROM pk$i, unnest(range(1, len(picks) + 1)) AS t(j))""".stripMargin
    }
    TextCore.withDocsRecursive(
      s""", bv0 AS MATERIALIZED (
         |  SELECT '|' || array_to_string(list_transform(range(1, length(w) + 1),
         |           i -> w[i]), '||') || '|' AS sym,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(words) AS w FROM docs)
         |  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2
         |  GROUP BY w),
         |${(1 to nPass).map(bpeBatchedPassCtes).mkString(",\n")}
         |SELECT step, left_sym, right_sym, freq FROM (
         |${(1 to nPass).map(steps).mkString("\nUNION ALL\n")}
         |) ORDER BY step""".stripMargin)
  }

  /** The shared q102/q104/q106 oracle prefix: initial char-symbol vocab
    * `v0` (from `docsSrc` — "docs", or a filtered subquery for q106's
    * train-split chain) plus the unrolled [[bpeIterCte]] training chain
    * to `v$bpeMerges`. */
  private def bpeChainCtesFrom(docsSrc: String): String =
    s""", v0 AS (
       |  SELECT '|' || array_to_string(list_transform(range(1, length(w) + 1),
       |           i -> w[i]), '||') || '|' AS sym,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(words) AS w FROM $docsSrc)
       |  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2
       |  GROUP BY w),
       |${(1 to bpeMerges).map(bpeIterCte).mkString(",\n")}""".stripMargin

  private val bpeChainCtes: String = bpeChainCtesFrom("docs")

  /** One TextRank iteration CTE: tr{i} from tr{i-1}, mirroring the Spark
    * loop body — per-edge integer div, damped integer sum, teleport. */
  private def textrankIterCte(i: Int): String =
    s"""tr$i AS (
       |  SELECT dst AS word,
       |         CAST(${15L * trScale / 100L}
       |              + (85 * sum((rank * w) // wout)) // 100 AS BIGINT) AS rank
       |  FROM edn JOIN tr${i - 1} ON edn.src = tr${i - 1}.word
       |  GROUP BY dst)""".stripMargin

  private val lenBucketCaseSql: String =
    lenBuckets.init.map(b => s"WHEN len(words) <= $b THEN $b")
      .mkString("CASE ", " ", s" ELSE ${lenBuckets.last} END")

  /** The CMS sketch/probe oracle, shared VERBATIM by q147 (single-pass
    * sketch) and q151 (two disjoint-batch sketches merged cell-wise):
    * the merge law says both must serve this exact answer. */
  private lazy val cmsTopkSql: String = withDocs(
    s""", tok AS (SELECT unnest(words) AS word FROM docs),
       |rows4 AS (SELECT unnest([0, 1, 2, 3]) AS r),
       |cells AS (
       |  SELECT r,
       |         CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || word), 1, 4)
       |              AS BIGINT) % $cmsWidth AS b,
       |         CAST(count(*) AS BIGINT) AS cell_cnt
       |  FROM tok, rows4 GROUP BY 1, 2),
       |top AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
       |  ORDER BY cnt DESC, word LIMIT 20),
       |probes AS (
       |  SELECT word, cnt, r,
       |         CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || word), 1, 4)
       |              AS BIGINT) % $cmsWidth AS b
       |  FROM top, rows4)
       |SELECT word, cnt, CAST(min(cell_cnt) AS BIGINT) AS cms_est,
       |       CAST(min(cell_cnt) - cnt AS BIGINT) AS overcount
       |FROM probes JOIN cells USING (r, b)
       |GROUP BY word, cnt ORDER BY cnt DESC, word""".stripMargin)

  /** The HLL oracle — register ranks, the integer-scaled harmonic sum
    * and the one double division (see the q152 scaladoc) — shared
    * VERBATIM by q152 (single-pass registers) and q155 (disjoint
    * halves merged by element-wise max). */
  /** Serve-only twin of [[hllRegistersSql]] — q152's oracle after the
    * r16 serve/audit split: same registers, same shift-sum estimate,
    * no exact side. */
  private lazy val hllServeSql: String = withDocs(
    s""", base AS (
       |  SELECT lang, doc_id,
       |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
       |           % $hllRegs AS b,
       |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 8) AS BIGINT) AS v
       |  FROM docs),
       |reg AS (
       |  SELECT lang, b,
       |         max(CASE WHEN v = 0 THEN 33
       |                  ELSE 33 - length(bin(v)) END) AS m
       |  FROM base GROUP BY 1, 2),
       |agg AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS regs_hit,
       |         CAST(sum(CAST(1 AS BIGINT) << (33 - m)) AS BIGINT) AS ssum_hit
       |  FROM reg GROUP BY 1)
       |SELECT lang, regs_hit,
       |       ${round2Sql(
             s"$hllNum / CAST(ssum_hit + ($hllRegs - regs_hit) * $hllEmptyTerm AS DOUBLE)")}
       |         AS hll_est
       |FROM agg
       |ORDER BY lang""".stripMargin)

  private lazy val hllRegistersSql: String = withDocs(
    s""", base AS (
       |  SELECT lang, doc_id,
       |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
       |           % $hllRegs AS b,
       |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 8) AS BIGINT) AS v
       |  FROM docs),
       |reg AS (
       |  SELECT lang, b,
       |         max(CASE WHEN v = 0 THEN 33
       |                  ELSE 33 - length(bin(v)) END) AS m
       |  FROM base GROUP BY 1, 2),
       |agg AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS regs_hit,
       |         CAST(sum(CAST(1 AS BIGINT) << (33 - m)) AS BIGINT) AS ssum_hit
       |  FROM reg GROUP BY 1),
       |ex AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_exact
       |       FROM docs GROUP BY 1)
       |SELECT lang, n_exact, regs_hit, hll_est,
       |       ${round4Sql("abs(hll_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)")}
       |         AS rel_err
       |FROM (
       |  SELECT lang, n_exact, regs_hit,
       |         ${round2Sql(
             s"$hllNum / CAST(ssum_hit + ($hllRegs - regs_hit) * $hllEmptyTerm AS DOUBLE)")}
       |           AS hll_est
       |  FROM agg JOIN ex USING (lang))
       |ORDER BY lang""".stripMargin)

  /** q163's whole training chain as oracle CTEs (through `mt` =
    * per-held-out-doc margin and `labt` = held-out labels) — shared
    * with q308 so the calibration bins read the IDENTICAL margins the
    * confusion matrix gates. */
  private lazy val qpOracleCtes: String =
    s""", $qualCte,
         |cnts AS (
         |  SELECT doc_id,
         |         CAST(len(words) AS BIGINT) AS nt,
         |         CAST(len(list_distinct(words)) AS BIGINT) AS nd,
         |         CAST(len(list_filter(words, w -> list_contains([$stopList], w)))
         |              AS BIGINT) AS ns
         |  FROM docs),
         |feat AS (
         |  SELECT doc_id, CAST(-1 AS BIGINT) AS b, CAST(1 AS BIGINT) AS x FROM cnts
         |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT), nt FROM cnts
         |  UNION ALL SELECT doc_id, CAST(1 AS BIGINT), nd FROM cnts
         |  UNION ALL SELECT doc_id, CAST(2 AS BIGINT), ns FROM cnts),
         |featr AS MATERIALIZED (SELECT * FROM feat WHERE ${TextCore.idBucketSql("doc_id")} < 80),
         |featt AS MATERIALIZED (SELECT * FROM feat WHERE ${TextCore.idBucketSql("doc_id")} >= 80),
         |lab AS MATERIALIZED (
         |  SELECT doc_id, CAST(CASE WHEN score >= $qpTau THEN 1 ELSE -1 END AS BIGINT) AS y
         |  FROM qual WHERE ${TextCore.idBucketSql("doc_id")} < 80),
         |labt AS MATERIALIZED (
         |  SELECT doc_id, CAST(CASE WHEN score >= $qpTau THEN 1 ELSE -1 END AS BIGINT) AS y
         |  FROM qual WHERE ${TextCore.idBucketSql("doc_id")} >= 80),
         |w0 AS (SELECT CAST(NULL AS BIGINT) AS b, CAST(NULL AS BIGINT) AS w WHERE 1 = 0),
         |${(1 to qpEpochs).map(qpEpochCte).mkString(",\n")},
         |mt AS (
         |  SELECT f.doc_id, coalesce(sum(w.w * f.x), 0) AS m
         |  FROM featt f LEFT JOIN w$qpEpochs w USING (b) GROUP BY 1)"""
      .stripMargin

  val oracle: Map[String, String] = Map(
    // same exact moments, one sqrt each side, e6 floor, total order
    "q316_source_similarity" -> withDocs(
      s""", wc AS (
        |  SELECT source, w.w AS w, CAST(count(*) AS BIGINT) AS c
        |  FROM docs, unnest(words) AS w(w)
        |  GROUP BY 1, 2),
        |nr AS (
        |  SELECT source, CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS nsq
        |  FROM wc GROUP BY 1),
        |dt AS (
        |  SELECT a.source AS sa, b.source AS sb,
        |         CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS dot
        |  FROM wc a JOIN wc b ON b.w = a.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb,
        |       CAST(floor(CAST(dot AS DOUBLE)
        |                  / sqrt(CAST(na.nsq AS DOUBLE)
        |                         * CAST(nb.nsq AS DOUBLE))
        |                  * 1000000) AS BIGINT) AS cos_e6
        |FROM dt
        |JOIN nr na ON na.source = dt.sa
        |JOIN nr nb ON nb.source = dt.sb
        |ORDER BY cos_e6 DESC, sa, sb LIMIT 15""".stripMargin),
    // q40's classifier replayed, langs²-bounded grid with class shares
    "q313_langid_confusion" -> withDocs(
      s""", pr AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN ($ratioSql) >= 0.05 THEN 'en' ELSE 'und'
        |         END AS pred_lang
        |  FROM docs),
        |cells AS (
        |  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM pr GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang
        |      FROM cells GROUP BY 1)
        |SELECT c.lang, c.pred_lang, c.n_docs,
        |       c.n_docs * 10000 // t.n_lang AS share_bp
        |FROM cells c JOIN t USING (lang)
        |ORDER BY lang, pred_lang""".stripMargin),
    // one (source, word) count table; both tails in truncating bp
    "q307_vocab_shape" -> withDocs(
      """, wc AS (
        |  SELECT source, w.w AS w, CAST(count(*) AS BIGINT) AS c
        |  FROM docs, unnest(words) AS w(w)
        |  GROUP BY 1, 2)
        |SELECT source,
        |       CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(count(*) AS BIGINT) * 10000 // CAST(sum(c) AS BIGINT)
        |         AS ttr_bp,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000
        |         // CAST(count(*) AS BIGINT) AS hapax_bp,
        |       CAST(max(c) AS BIGINT) * 10000 // CAST(sum(c) AS BIGINT)
        |         AS head_mass_bp
        |FROM wc GROUP BY source ORDER BY source""".stripMargin),
    // same decile cut, first-occurrence attribution, cumulative sums
    // cast BIGINT before they reach the final SELECT (the HUGEINT rule)
    "q335_heaps_curve" -> withDocs(
      """, m AS (SELECT CAST(max(doc_id) AS BIGINT) AS md FROM docs),
        |dp AS (
        |  SELECT doc_id * 10 // (md + 1) AS decile,
        |         CAST(count(*) AS BIGINT) AS n_docs
        |  FROM docs, m GROUP BY 1),
        |tk AS (SELECT doc_id, w.w AS w FROM docs, unnest(words) AS w(w)),
        |tp AS (
        |  SELECT doc_id * 10 // (md + 1) AS decile,
        |         CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM tk, m GROUP BY 1),
        |ty AS (
        |  SELECT fd * 10 // (md + 1) AS decile,
        |         CAST(count(*) AS BIGINT) AS n_types
        |  FROM (SELECT w, min(doc_id) AS fd FROM tk GROUP BY 1), m
        |  GROUP BY 1),
        |cells AS (
        |  SELECT coalesce(dp.decile, tp.decile, ty.decile) AS decile,
        |         coalesce(n_docs, 0) AS n_docs,
        |         coalesce(n_tokens, 0) AS n_tokens,
        |         coalesce(n_types, 0) AS n_types
        |  FROM dp
        |  FULL JOIN tp ON tp.decile = dp.decile
        |  FULL JOIN ty ON ty.decile = coalesce(dp.decile, tp.decile)),
        |cum AS (
        |  SELECT decile,
        |         CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
        |         CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
        |         CAST(sum(n_types) OVER w AS BIGINT) AS cum_types
        |  FROM cells
        |  WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
        |SELECT decile, cum_docs, cum_tokens, cum_types,
        |       CASE WHEN cum_tokens > 0
        |            THEN CAST(cum_types * 10000 // cum_tokens AS BIGINT)
        |       END AS types_per_10k_tok
        |FROM cum ORDER BY decile""".stripMargin),
    // same N_r table, fixed 1..10 spine, NULL-vs-zero r* distinction
    "q338_good_turing" -> withDocs(
      """, tk AS (
        |  SELECT unnest(list_transform(range(1, len(words)),
        |           i -> words[i] || ' ' || words[i + 1])) AS w
        |  FROM docs),
        |wcx AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
        |nr AS (SELECT c, CAST(count(*) AS BIGINT) AS n_r FROM wcx GROUP BY 1),
        |tt AS (SELECT CAST(sum(c * n_r) AS BIGINT) AS n_tok,
        |              CAST(coalesce(sum(CASE WHEN c = 1 THEN n_r END), 0)
        |                   AS BIGINT) AS n1
        |       FROM nr),
        |sp AS (SELECT unnest(range(1, 11)) AS r)
        |SELECT CAST(sp.r AS BIGINT) AS r,
        |       CAST(coalesce(a.n_r, 0) AS BIGINT) AS n_r,
        |       CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_next,
        |       CASE WHEN coalesce(a.n_r, 0) > 0
        |            THEN CAST((sp.r + 1) * coalesce(b.n_r, 0) * 10000
        |                      // a.n_r AS BIGINT) END AS r_star_x10k,
        |       CASE WHEN tt.n_tok > 0
        |            THEN CAST(tt.n1 * 10000 // tt.n_tok AS BIGINT)
        |       END AS p0_bp
        |FROM sp LEFT JOIN nr a ON a.c = sp.r
        |LEFT JOIN nr b ON b.c = sp.r + 1
        |CROSS JOIN tt ORDER BY r""".stripMargin),
    // the same bigram multiset-vs-set arithmetic over the shared words
    "q266_repetition_filter" -> withDocs(
      s""", g AS (
         |  SELECT doc_id,
         |         CAST(greatest(len(words) - 1, 0) AS BIGINT) AS n_grams,
         |         CAST(CASE WHEN len(words) >= 2
         |              THEN len(list_distinct(list_transform(range(1, len(words)),
         |                     i -> words[i] || ' ' || words[i+1])))
         |              ELSE 0 END AS BIGINT) AS nd
         |  FROM docs)
         |SELECT doc_id, n_grams, n_dup,
         |       CASE WHEN n_grams > 0 THEN n_dup * 10000 // n_grams
         |       END AS dup_bp,
         |       CASE WHEN n_grams > 0 THEN
         |         CAST(CASE WHEN n_dup * 10000 // n_grams > $repDupBp
         |              THEN 1 ELSE 0 END AS BIGINT)
         |       END AS flagged
         |FROM (SELECT doc_id, n_grams, nd, n_grams - nd AS n_dup FROM g)
         |ORDER BY doc_id""".stripMargin),
    // identical plant (same md5 buckets), identical patterns, 'g' flag
    // because DuckDB's regexp_replace is first-match-only by default
    // where Spark's replaces all
    "q267_pii_scrub" ->
      s"""WITH p AS (
         |  SELECT doc_id, source,
         |         CASE WHEN ${graft.ops.TextCore.idBucketSql("doc_id")} < 15
         |              THEN text || ' contact: user' ||
         |                   CAST(doc_id AS VARCHAR) || '@example.com'
         |              WHEN ${graft.ops.TextCore.idBucketSql("doc_id")} < 20
         |              THEN text || ' phone: +1-555-' || CAST(doc_id AS VARCHAR)
         |              ELSE text END AS t2
         |  FROM documents),
         |sc AS (
         |  SELECT source,
         |         len(regexp_extract_all(t2, '$emailRe')) AS n_email,
         |         len(regexp_extract_all(t2, '$phoneRe')) AS n_phone,
         |         regexp_replace(regexp_replace(t2, '$emailRe', '[EMAIL]', 'g'),
         |                        '$phoneRe', '[PHONE]', 'g') AS red
         |  FROM p),
         |r AS (
         |  SELECT source, n_email, n_phone, red,
         |         len(regexp_extract_all(red, '$emailRe'))
         |           + len(regexp_extract_all(red, '$phoneRe')) AS residual
         |  FROM sc)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_email_docs,
         |       CAST(sum(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_phone_docs,
         |       CAST(sum(len(red)) AS BIGINT) AS redacted_len_sum,
         |       CAST(sum(CASE WHEN residual > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS residual_pii_docs
         |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // per-source sqrt quantized BEFORE the normalizing integer sum
    "q268_mixture_temperature" -> withDocs(
      s""", ps AS (
         |  SELECT source, CAST(sum(len(words)) AS BIGINT) AS n_tokens
         |  FROM docs GROUP BY 1),
         |q AS (
         |  SELECT source, n_tokens,
         |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 100) AS BIGINT) AS sq
         |  FROM ps),
         |t AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         |         CAST(sum(sq) AS BIGINT) AS tot_sq
         |  FROM q)
         |SELECT source, n_tokens,
         |       n_tokens * 10000 // tot_tokens AS share_bp,
         |       sq * 10000 // tot_sq AS w_temp_bp
         |FROM q CROSS JOIN t ORDER BY source""".stripMargin),
    // same counts, same exact integer lift, same (lift, bigram) order
    "q279_collocations" -> withDocs(
      s""", uni AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cw
         |  FROM (SELECT unnest(words) AS w FROM docs)
         |  WHERE w <> '' GROUP BY 1),
         |bi AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS cab FROM (
         |    SELECT unnest(CASE WHEN len(words) >= 2
         |             THEN list_transform(range(1, len(words)),
         |                    i -> words[i] || ' ' || words[i+1])
         |             ELSE CAST([] AS VARCHAR[]) END) AS bg
         |    FROM docs)
         |  GROUP BY 1 HAVING count(*) >= $collocMinSupport),
         |tot AS (
         |  SELECT CAST(sum(len(words)) AS BIGINT) AS nt,
         |         CAST(sum(greatest(len(words) - 1, 0)) AS BIGINT) AS nb
         |  FROM docs),
         |sp AS (
         |  SELECT string_split(bg, ' ')[1] AS wa,
         |         string_split(bg, ' ')[2] AS wb, cab
         |  FROM bi)
         |SELECT sp.wa, sp.wb, sp.cab,
         |       CAST(CAST(sp.cab AS HUGEINT) * nt * nt * 100
         |            // (CAST(nb AS HUGEINT) * ua.cw * ub.cw) AS BIGINT)
         |         AS lift_x100
         |FROM sp
         |JOIN uni ua ON ua.w = sp.wa
         |JOIN uni ub ON ub.w = sp.wb
         |CROSS JOIN tot
         |ORDER BY lift_x100 DESC, wa, wb
         |LIMIT $collocTopK""".stripMargin),
    // identical budget quotient, cap and flags
    "q270_epoch_allocation" -> withDocs(
      s""", ps AS (
         |  SELECT source, CAST(sum(len(words)) AS BIGINT) AS n_tokens
         |  FROM docs GROUP BY 1),
         |q AS (
         |  SELECT source, n_tokens,
         |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 100) AS BIGINT) AS sq
         |  FROM ps),
         |t AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         |         CAST(sum(sq) AS BIGINT) AS tot_sq
         |  FROM q),
         |a AS (
         |  SELECT source, n_tokens, sq * 10000 // tot_sq AS w_temp_bp,
         |         sq * (($epochBudgetX * tot_tokens * 1000) // tot_sq) // 1000
         |           AS alloc_tokens
         |  FROM q CROSS JOIN t),
         |e AS (
         |  SELECT *, CASE WHEN n_tokens > 0
         |                 THEN alloc_tokens * 100 // n_tokens END AS er
         |  FROM a)
         |SELECT source, n_tokens, w_temp_bp, alloc_tokens,
         |       least(er, $epochCapX100) AS epochs_x100,
         |       CASE WHEN er IS NULL THEN NULL
         |            WHEN er > $epochCapX100 THEN CAST(1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS capped
         |FROM e ORDER BY source""".stripMargin),
    // one-pass bit set over the union of the two quarter builds (the
    // Bloom merge law), then the same probe/audit accounting
    "q171_bloom_membership" -> withDocs(
      s""", dfp AS (SELECT doc_id, ${idBucketSql("doc_id")} AS ib,
         |              md5(norm) AS fp FROM docs),
         |bits AS (SELECT DISTINCT pos FROM (
         |  SELECT unnest([CAST('0x' || substr(fp, 1, 8) AS BIGINT) % $bloomBits,
         |                 CAST('0x' || substr(fp, 9, 8) AS BIGINT) % $bloomBits])
         |           AS pos
         |  FROM dfp WHERE ib < 50)),
         |tr AS (SELECT DISTINCT fp FROM dfp WHERE ib < 50),
         |pp AS (SELECT doc_id,
         |         unnest(list_distinct(
         |           [CAST('0x' || substr(fp, 1, 8) AS BIGINT) % $bloomBits,
         |            CAST('0x' || substr(fp, 9, 8) AS BIGINT) % $bloomBits]))
         |           AS pos
         |       FROM dfp),
         |np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos
         |       FROM pp GROUP BY 1),
         |mt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |       FROM pp JOIN bits USING (pos) GROUP BY 1),
         |pd AS (SELECT d.doc_id,
         |         CASE WHEN coalesce(mt.n_hit, 0) = np.n_pos
         |              THEN 1 ELSE 0 END AS hit,
         |         CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END AS member
         |       FROM dfp d JOIN np USING (doc_id)
         |       LEFT JOIN mt USING (doc_id)
         |       LEFT JOIN tr ON d.fp = tr.fp),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |              CAST(sum(member) AS BIGINT) AS n_members,
         |              CAST(sum(hit) AS BIGINT) AS n_bloom_hits,
         |              CAST(sum(CASE WHEN hit = 1 AND member = 0
         |                            THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
         |       FROM pd),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits)
         |SELECT n_bits_set, n_probes, n_members, n_bloom_hits, n_false_pos,
         |       CASE WHEN n_probes - n_members = 0 THEN NULL
         |            ELSE ${round4Sql("CAST(n_false_pos AS DOUBLE) / CAST(n_probes - n_members AS DOUBLE)")}
         |       END AS fpr
         |FROM nb CROSS JOIN ag""".stripMargin),
    // ONE pass over the union (no split): hash-equality with the
    // Spark side's split-build-then-merge is the merge law
    "q168_hist_quantiles" -> withDocs(
      s""", h AS (
         |  SELECT CAST(least($histBuckets, len(words) // $histWidth) AS BIGINT) AS b,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM docs GROUP BY 1),
         |c AS (SELECT b, CAST(sum(cnt) OVER (ORDER BY b) AS BIGINT) AS n_le FROM h),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM h),
         |pr AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
         |SELECT p, b AS bucket, CAST((b + 1) * $histWidth AS BIGINT) AS ub_tokens,
         |       n_le, n_total
         |FROM (SELECT pr.p, c.b, c.n_le, t.n_total,
         |             row_number() OVER (PARTITION BY pr.p ORDER BY c.b) AS rn
         |      FROM c CROSS JOIN t CROSS JOIN pr
         |      WHERE c.n_le >= (pr.p * t.n_total + 99) // 100)
         |WHERE rn = 1 ORDER BY p""".stripMargin),
    // the train-split unigram table, the total, then the same integer
    // surprisal ladder per token (OOV charges the ceiling T)
    // q134's integer-surprisal ground at the bigram grain: same train
    // split, same adjacent-pair spelling as q146, same // charges
    "q188_bigram_lm" -> withDocs(
      s""", pr AS (
         |  SELECT doc_id, words[i] AS w1, words[i + 1] AS w2,
         |         words[i] || ' ' || words[i + 1] AS bg
         |  FROM (SELECT doc_id, words,
         |               unnest(generate_series(1, len(words) - 1)) AS i
         |        FROM docs)),
         |uni AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS ucnt
         |  FROM (SELECT unnest(words) AS word FROM docs
         |        WHERE ${idBucketSql("doc_id")} < 80)
         |  GROUP BY word),
         |bgc AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS bcnt
         |  FROM pr WHERE ${idBucketSql("doc_id")} < 80 GROUP BY bg),
         |tt AS (SELECT CAST(coalesce(sum(ucnt), 0) AS BIGINT) AS t FROM uni),
         |scored AS (
         |  SELECT doc_id,
         |         CASE WHEN bcnt IS NOT NULL THEN u1.ucnt // bcnt
         |              WHEN u2.ucnt IS NOT NULL THEN $backoffPenalty * (tt.t // u2.ucnt)
         |              ELSE $backoffPenalty * tt.t END AS sp,
         |         CASE WHEN bcnt IS NULL THEN 1 ELSE 0 END AS backoff,
         |         CASE WHEN bcnt IS NULL AND u2.ucnt IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM pr LEFT JOIN bgc USING (bg)
         |          LEFT JOIN uni u1 ON pr.w1 = u1.word
         |          LEFT JOIN uni u2 ON pr.w2 = u2.word, tt)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST(sum(backoff) AS BIGINT) AS n_backoff,
         |       CAST(sum(oov) AS BIGINT) AS n_oov,
         |       CAST(sum(sp) AS BIGINT) AS sp_sum,
         |       ${round2Sql("CAST(sum(sp) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |         AS mean_sp
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the q188 model chain verbatim, then the integer per-doc mean, the
    // per-lang value-histogram lower median, and the keep decision
    "q234_ppl_filter" -> withDocs(
      s""", pr AS (
         |  SELECT doc_id, words[i] AS w1, words[i + 1] AS w2,
         |         words[i] || ' ' || words[i + 1] AS bg
         |  FROM (SELECT doc_id, words,
         |               unnest(generate_series(1, len(words) - 1)) AS i
         |        FROM docs)),
         |uni AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS ucnt
         |  FROM (SELECT unnest(words) AS word FROM docs
         |        WHERE ${idBucketSql("doc_id")} < 80)
         |  GROUP BY word),
         |bgc AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS bcnt
         |  FROM pr WHERE ${idBucketSql("doc_id")} < 80 GROUP BY bg),
         |tt AS (SELECT CAST(coalesce(sum(ucnt), 0) AS BIGINT) AS t FROM uni),
         |scored AS (
         |  SELECT doc_id,
         |         CASE WHEN bcnt IS NOT NULL THEN u1.ucnt // bcnt
         |              WHEN u2.ucnt IS NOT NULL THEN $backoffPenalty * (tt.t // u2.ucnt)
         |              ELSE $backoffPenalty * tt.t END AS sp
         |  FROM pr LEFT JOIN bgc USING (bg)
         |          LEFT JOIN uni u1 ON pr.w1 = u1.word
         |          LEFT JOIN uni u2 ON pr.w2 = u2.word, tt),
         |perdoc AS (
         |  SELECT doc_id,
         |         CAST(sum(sp) AS BIGINT) // CAST(count(*) AS BIGINT) AS sp_i
         |  FROM scored GROUP BY doc_id),
         |ld AS (
         |  SELECT d.doc_id, d.lang, p.sp_i
         |  FROM docs d LEFT JOIN perdoc p USING (doc_id)),
         |hist AS (SELECT lang, sp_i, CAST(count(*) AS BIGINT) AS c
         |         FROM ld WHERE sp_i IS NOT NULL GROUP BY lang, sp_i),
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         |        FROM ld WHERE sp_i IS NOT NULL GROUP BY lang),
         |med AS (
         |  SELECT lang, min(sp_i) AS med_sp FROM (
         |    SELECT h.lang, h.sp_i,
         |           sum(h.c) OVER (PARTITION BY h.lang ORDER BY h.sp_i
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |           t.n
         |    FROM hist h JOIN tot t USING (lang))
         |  WHERE cum * 2 >= n GROUP BY lang)
         |SELECT ld.doc_id, ld.lang, ld.sp_i, m.med_sp,
         |       CAST(CASE WHEN ld.sp_i <= m.med_sp THEN 1 ELSE 0 END AS BIGINT)
         |         AS kept
         |FROM ld LEFT JOIN med m USING (lang)
         |ORDER BY ld.doc_id""".stripMargin),
    "q134_surprisal" -> withDocs(
      s""", tv AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(words) AS word FROM docs
         |        WHERE ${idBucketSql("doc_id")} < 80)
         |  GROUP BY word),
         |tot AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS t FROM tv),
         |scored AS (
         |  SELECT doc_id,
         |         CASE WHEN cnt IS NULL THEN t ELSE t // cnt END AS sp,
         |         CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM (SELECT doc_id, unnest(words) AS word FROM docs)
         |  LEFT JOIN tv USING (word), tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(oov) AS BIGINT) AS n_oov,
         |       CAST(sum(sp) AS BIGINT) AS surprisal_sum,
         |       ${round2Sql("CAST(sum(sp) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |         AS mean_surprisal
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the same hashed-bucket math as idBucketSql, modulus 1024; the two
    // model totals ride as 1-row CTEs exactly like q134's `tot`
    "q143_dsir_weights" -> withDocs(
      s""", tok AS (
         |  SELECT doc_id, lang,
         |         CAST('0x' || substr(md5(word), 1, 4) AS BIGINT) % $dsirBuckets AS b
         |  FROM (SELECT doc_id, lang, unnest(words) AS word FROM docs)),
         |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS t_cnt FROM tok
         |        WHERE lang = 'en' GROUP BY b),
         |src AS (SELECT b, CAST(count(*) AS BIGINT) AS s_cnt FROM tok GROUP BY b),
         |tt AS (SELECT CAST(coalesce(sum(t_cnt), 0) AS BIGINT) AS t FROM tgt),
         |st AS (SELECT CAST(coalesce(sum(s_cnt), 0) AS BIGINT) AS t FROM src),
         |scored AS (
         |  SELECT doc_id,
         |         (st.t // s_cnt) -
         |           (CASE WHEN t_cnt IS NULL THEN tt.t ELSE tt.t // t_cnt END) AS w,
         |         CASE WHEN t_cnt IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tok JOIN src USING (b) LEFT JOIN tgt USING (b), tt, st)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(oov) AS BIGINT) AS n_oov_tgt,
         |       CAST(sum(w) AS BIGINT) AS dsir_sum,
         |       ${round2Sql("CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |         AS mean_w
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the sketch cells, the exact top-20, and the min-over-rows probe
    // restated directly — same md5 row-seed bucket math, same
    // (cnt desc, word) tie at the limit boundary
    "q147_cms_topk" -> cmsTopkSql,
    // the merge law: two disjoint-batch sketches summed cell-wise must
    // serve exactly the single-pass answer — the oracle IS q147's
    "q151_cms_merge" -> cmsTopkSql,
    // register ranks, the integer-scaled harmonic sum, and the one
    // double division restated directly — same md5 bucket/rank math,
    // same shift-scaled exactness (see the q152 scaladoc)
    "q152_hll_registers" -> hllServeSql,
    "q262_hll_card_audit" -> hllRegistersSql,
    // the merge law: two disjoint-half register tables folded by
    // element-wise max must serve the single-pass answer — q152's
    // oracle verbatim
    "q155_hll_merge" -> hllRegistersSql,
    // the per-class models as lazy CTEs (the Spark side precomputes the
    // same integer charges driver-side), then the identical argmin chain
    "q148_nb_langid" -> withDocs(
      s""", tok AS (
         |  SELECT doc_id, lang,
         |         CAST('0x' || substr(md5(word), 1, 4) AS BIGINT) % $dsirBuckets AS b
         |  FROM (SELECT doc_id, lang, unnest(words) AS word FROM docs)),
         |model AS (
         |  SELECT lang AS c, b, CAST(count(*) AS BIGINT) AS cnt FROM tok
         |  WHERE ${idBucketSql("doc_id")} < 80 GROUP BY 1, 2),
         |tot AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS t FROM model GROUP BY 1),
         |scored AS (
         |  SELECT tok.doc_id, tok.lang, tot.c,
         |         CAST(sum(CASE WHEN model.cnt IS NULL THEN tot.t
         |                       ELSE tot.t // model.cnt END) AS BIGINT) AS score
         |  FROM tok CROSS JOIN tot
         |  LEFT JOIN model ON model.c = tot.c AND model.b = tok.b
         |  GROUP BY 1, 2, 3),
         |pred AS (
         |  SELECT lang, c AS pred_lang,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY score ASC, c ASC) AS rn
         |  FROM scored)
         |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // the bigram twin: adjacent pairs joined with one space, 4096
    // buckets, otherwise the identical scoring chain
    "q146_dsir_bigram" -> withDocs(
      s""", tok AS (
         |  SELECT doc_id, lang,
         |         CAST('0x' || substr(md5(bg), 1, 4) AS BIGINT) % $dsirBigramBuckets AS b
         |  FROM (SELECT doc_id, lang,
         |               unnest(list_transform(range(1, len(words)),
         |                 i -> words[i] || ' ' || words[i + 1])) AS bg
         |        FROM docs)),
         |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS t_cnt FROM tok
         |        WHERE lang = 'en' GROUP BY b),
         |src AS (SELECT b, CAST(count(*) AS BIGINT) AS s_cnt FROM tok GROUP BY b),
         |tt AS (SELECT CAST(coalesce(sum(t_cnt), 0) AS BIGINT) AS t FROM tgt),
         |st AS (SELECT CAST(coalesce(sum(s_cnt), 0) AS BIGINT) AS t FROM src),
         |scored AS (
         |  SELECT doc_id,
         |         (st.t // s_cnt) -
         |           (CASE WHEN t_cnt IS NULL THEN tt.t ELSE tt.t // t_cnt END) AS w,
         |         CASE WHEN t_cnt IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tok JOIN src USING (b) LEFT JOIN tgt USING (b), tt, st)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(oov) AS BIGINT) AS n_oov_tgt,
         |       CAST(sum(w) AS BIGINT) AS dsir_sum,
         |       ${round2Sql("CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |         AS mean_w
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "q136_length_buckets" -> withDocs(
      s""", bl AS (
         |  SELECT lang, CAST(len(words) AS BIGINT) AS n,
         |         CAST($lenBucketCaseSql AS BIGINT) AS bucket_len
         |  FROM docs)
         |SELECT lang, bucket_len, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(least(n, bucket_len)) AS BIGINT) AS token_sum,
         |       CAST(sum(bucket_len) AS BIGINT) AS padded_sum,
         |       CAST(sum(greatest(n - bucket_len, 0)) AS BIGINT) AS trunc_tokens,
         |       ${round4Sql("CAST(sum(bucket_len) - sum(least(n, bucket_len)) AS DOUBLE)" +
                  " / CAST(sum(bucket_len) AS DOUBLE)")} AS waste_frac
         |FROM bl GROUP BY lang, bucket_len ORDER BY lang, bucket_len""".stripMargin),
    // the same integer-scaled TextRank: symmetric adjacency edges, then
    // 10 unrolled rank CTEs mirroring the Spark driver loop exactly
    "q137_textrank" -> withDocs(
      s""", pr AS (
         |  SELECT p.l AS l, p.r AS r FROM (
         |    SELECT unnest(list_transform(range(1, len(words)),
         |             i -> {'l': words[i], 'r': words[i+1]})) AS p
         |    FROM docs WHERE len(words) >= 2)
         |  WHERE p.l <> p.r),
         |ed AS (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
         |    SELECT l AS src, r AS dst FROM pr
         |    UNION ALL SELECT r AS src, l AS dst FROM pr)
         |  GROUP BY src, dst),
         |edn AS (
         |  SELECT e.src, e.dst, e.w, o.wout
         |  FROM ed e JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS wout
         |                  FROM ed GROUP BY src) o USING (src)),
         |tr0 AS (SELECT DISTINCT src AS word, CAST($trScale AS BIGINT) AS rank
         |        FROM edn),
         |${(1 to trIters).map(textrankIterCte).mkString(",\n")}
         |SELECT word, rank AS rank_scaled FROM tr$trIters
         |ORDER BY rank_scaled DESC, word LIMIT 50""".stripMargin),
    "q138_bpe_batched" -> bpeBatchedOracleSql,
    "q102_bpe_train" -> withDocs(
      s"""$bpeChainCtes
         |SELECT * FROM (
         |${(1 to bpeMerges).map(i =>
              s"""SELECT CAST($i AS BIGINT) AS step, l AS left_sym, r AS right_sym, freq
                 |FROM m$i""".stripMargin).mkString("\nUNION ALL\n")}
         |) ORDER BY step""".stripMargin),
    "q104_bpe_compression" -> withDocs(
      s"""$bpeChainCtes,
         |vt AS (
         |  SELECT replace(sym, '|', '') AS w,
         |         CAST(len(string_split(substr(sym, 2, length(sym) - 2), '||'))
         |           AS BIGINT) AS n_syms
         |  FROM v$bpeMerges),
         |wd AS (SELECT lang, unnest(words) AS w FROM docs),
         |j AS (
         |  SELECT lang, CAST(length(wd.w) AS BIGINT) AS nc,
         |         coalesce(vt.n_syms, CAST(length(wd.w) AS BIGINT)) AS nt
         |  FROM wd LEFT JOIN vt ON wd.w = vt.w)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(nt) AS BIGINT) AS n_tokens,
         |       CASE WHEN sum(nt) = 0 THEN NULL
         |            ELSE ${round4Sql("CAST(sum(nc) AS DOUBLE) / CAST(sum(nt) AS DOUBLE)")}
         |       END AS chars_per_token
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin),
    "q106_bpe_heldout" -> withDocs(
      s"""${bpeChainCtesFrom(s"(SELECT words FROM docs WHERE ${idBucketSql("doc_id")} < 80)")},
         |wd AS (
         |  SELECT CASE WHEN bucket < 80 THEN 'train' ELSE 'test' END AS split, w
         |  FROM (SELECT ${idBucketSql("doc_id")} AS bucket, unnest(words) AS w
         |        FROM docs)
         |  WHERE (bucket < 80 OR bucket >= 90) AND regexp_matches(w, '^[a-z]+$$')),
         |a0 AS (
         |  SELECT split, CAST(length(w) AS BIGINT) AS nc,
         |         '|' || array_to_string(list_transform(range(1, length(w) + 1),
         |           i -> w[i]), '||') || '|' AS s
         |  FROM wd),
         |${(1 to bpeMerges).map(i =>
            s"""a$i AS (
               |  SELECT split, nc,
               |         coalesce(replace(s, '|' || l || '||' || r || '|',
               |                          '|' || l || r || '|'), s) AS s
               |  FROM a${i - 1} LEFT JOIN m$i ON TRUE)""".stripMargin).mkString(",\n")}
         |SELECT split, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(len(string_split(substr(s, 2, length(s) - 2), '||')))
         |         AS BIGINT) AS n_tokens,
         |       CASE WHEN sum(len(string_split(substr(s, 2, length(s) - 2), '||'))) = 0
         |            THEN NULL
         |            ELSE ${round4Sql(
                        "CAST(sum(nc) AS DOUBLE) / " +
                        "CAST(sum(len(string_split(substr(s, 2, length(s) - 2), '||'))) AS DOUBLE)")}
         |       END AS chars_per_token
         |FROM a$bpeMerges GROUP BY split ORDER BY split""".stripMargin),
    // the whole training replayed: qpEpochs (= 20) unrolled integer
    // epoch CTEs over the train-split count features, then the same
    // serve on the held-out split — any divergence in a single weight
    // flips predictions and fails
    "q163_quality_perceptron" -> withDocs(
      s"""$qpOracleCtes
         |SELECT CAST(l.y AS BIGINT) AS label,
         |       CAST(CASE WHEN m.m > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM mt m JOIN labt l USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q163's training chain verbatim, then min-rank margin deciles
    "q308_score_calibration" -> withDocs(
      s"""$qpOracleCtes,
         |hm AS (SELECT m, CAST(count(*) AS BIGINT) AS c FROM mt GROUP BY 1),
         |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM mt),
         |cdm AS (
         |  SELECT m, CAST(10 * (sum(c) OVER (ORDER BY m
         |              ROWS UNBOUNDED PRECEDING) - c) // n2.n + 1
         |            AS BIGINT) AS bin
         |  FROM hm CROSS JOIN n2)
         |SELECT cdm.bin, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN l.y = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_pos,
         |       CAST(sum(CASE WHEN l.y = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         * 10000 // CAST(count(*) AS BIGINT) AS pos_rate_bp,
         |       CAST(sum(mt.m) AS BIGINT) // CAST(count(*) AS BIGINT)
         |         AS mean_margin
         |FROM mt JOIN cdm USING (m) JOIN labt l USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the full-corpus training chain retrained from scratch, then the
    // same per-word merge replay grouped by lang — matching proves the
    // model artifact round-trips bit-exactly
    "q156_bpe_model_serve" -> withDocs(
      s"""${bpeChainCtesFrom("(SELECT words FROM docs)")},
         |wd AS (
         |  SELECT lang, w
         |  FROM (SELECT lang, unnest(words) AS w FROM docs)
         |  WHERE regexp_matches(w, '^[a-z]+$$')),
         |a0 AS (
         |  SELECT lang, CAST(length(w) AS BIGINT) AS nc,
         |         '|' || array_to_string(list_transform(range(1, length(w) + 1),
         |           i -> w[i]), '||') || '|' AS s
         |  FROM wd),
         |${(1 to bpeMerges).map(i =>
            s"""a$i AS (
               |  SELECT lang, nc,
               |         coalesce(replace(s, '|' || l || '||' || r || '|',
               |                          '|' || l || r || '|'), s) AS s
               |  FROM a${i - 1} LEFT JOIN m$i ON TRUE)""".stripMargin).mkString(",\n")}
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(len(string_split(substr(s, 2, length(s) - 2), '||')))
         |         AS BIGINT) AS n_tokens,
         |       CASE WHEN sum(len(string_split(substr(s, 2, length(s) - 2), '||'))) = 0
         |            THEN NULL
         |            ELSE ${round4Sql(
                        "CAST(sum(nc) AS DOUBLE) / " +
                        "CAST(sum(len(string_split(substr(s, 2, length(s) - 2), '||'))) AS DOUBLE)")}
         |       END AS chars_per_token
         |FROM a$bpeMerges GROUP BY lang ORDER BY lang""".stripMargin),
    "q40_lang_id" -> withDocs(
      s"""SELECT doc_id, ${round4Sql(ratioSql)} AS en_ratio,
         |       CASE WHEN ($ratioSql) >= 0.05 THEN 'en' ELSE 'und' END AS pred_lang
         |FROM docs ORDER BY doc_id""".stripMargin),
    "q41_token_stats" -> withDocs(
      s"""SELECT lang,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(count(DISTINCT word) AS BIGINT) AS n_distinct,
         |       ${round2Sql("CAST(count(*) AS DOUBLE) / CAST(count(DISTINCT doc_id) AS DOUBLE)")} AS avg_tokens_per_doc
         |FROM (SELECT doc_id, lang, unnest(words) AS word FROM docs)
         |GROUP BY lang ORDER BY lang""".stripMargin),
    "q42_quality_score" -> withDocs(
      s""", $qualCte
         |SELECT doc_id, n_tokens, ttr, avg_wlen, stop_ratio, score
         |FROM qual ORDER BY doc_id""".stripMargin),
    // identical mid-rank arithmetic on the same (lang, score) histogram
    "q249_quantile_uniform" -> withDocs(
      s""", $qualCte,
         |sc AS (SELECT doc_id, lang, score FROM qual WHERE n_tokens > 0),
         |h AS (SELECT lang, score, CAST(count(*) AS BIGINT) AS cnt
         |      FROM sc GROUP BY 1, 2),
         |c AS (SELECT *,
         |        coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY score
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         |        sum(cnt) OVER (PARTITION BY lang) AS n
         |      FROM h)
         |SELECT doc_id, sc.lang, sc.score,
         |       CAST((2 * cb + cnt) * 10000 // (2 * n) AS BIGINT) AS u_bp
         |FROM sc JOIN c ON sc.lang = c.lang AND sc.score = c.score
         |ORDER BY doc_id""".stripMargin),
    // the same mass histogram; quantile picked by row_number = 1 over
    // (pct, len) — equivalent to the struct-min since len is unique
    "q250_token_mass_quantiles" -> withDocs(
      """, h AS (
        |  SELECT CAST(len(words) AS BIGINT) AS len,
        |         CAST(sum(len(words)) AS BIGINT) AS w
        |  FROM docs WHERE len(words) > 0 GROUP BY 1),
        |c AS (SELECT len, CAST(sum(w) OVER (ORDER BY len
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
        |      FROM h),
        |t AS (SELECT CAST(max(cw) AS BIGINT) AS tw FROM c),
        |q AS (SELECT p.pct, c.len, c.cw, t.tw,
        |             row_number() OVER (PARTITION BY p.pct ORDER BY c.len) AS rn
        |      FROM c, t, (SELECT unnest([CAST(50 AS BIGINT),
        |                                 CAST(90 AS BIGINT),
        |                                 CAST(99 AS BIGINT)]) AS pct) p
        |      WHERE c.cw * 100 >= t.tw * p.pct)
        |SELECT pct, len AS len_at, cw AS cum_tokens, tw AS total_tokens
        |FROM q WHERE rn = 1 ORDER BY pct""".stripMargin),
    "q43_fingerprint" -> withDocs(
      """SELECT doc_id,
        |       list_aggregate(list_transform(shingles, s -> md5(s)), 'min') AS fp_minshingle,
        |       md5(array_to_string(list_sort(list_distinct(words)), ' ')) AS fp_bag
        |FROM docs ORDER BY doc_id""".stripMargin),
    "q44_bpe_tokens" -> withDocs(
      s"""SELECT token, CAST(count(*) AS BIGINT) AS freq
         |FROM (SELECT unnest(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS token
         |      FROM docs)
         |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20""".stripMargin),
    "q64_rare_terms" -> withDocs(
      """, p AS (
        |  SELECT doc_id, unnest(shingles) AS shingle FROM docs),
        |dfreq AS (
        |  SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1)
        |SELECT doc_id, rnk, shingle, df FROM (
        |  SELECT doc_id, shingle, df,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY df, shingle)
        |              AS BIGINT) AS rnk
        |  FROM p JOIN dfreq USING (shingle))
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin),
    "q65_chunk_docs" -> withDocs(
      s""", c AS (
         |  SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n
         |  FROM docs WHERE len(words) > 0),
         |st AS (
         |  SELECT doc_id, words, unnest(range(0, n, $chunkStride)) AS start FROM c)
         |SELECT doc_id,
         |       CAST(start // $chunkStride AS BIGINT) AS chunk_id,
         |       CAST(len(words[CAST(start+1 AS INT):CAST(start+$chunkSize AS INT)]) AS BIGINT)
         |         AS n_chunk_tokens,
         |       md5(array_to_string(words[CAST(start+1 AS INT):CAST(start+$chunkSize AS INT)], ' '))
         |         AS chunk_md5
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin),
    "q66_chunk_dedup" -> withDocs(
      s""", c AS (
         |  SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n
         |  FROM docs WHERE len(words) > 0),
         |st AS (
         |  SELECT doc_id, words, unnest(range(0, n, $chunkStride)) AS start FROM c),
         |ch AS (
         |  SELECT doc_id,
         |         md5(array_to_string(words[CAST(start+1 AS INT):CAST(start+$chunkSize AS INT)], ' '))
         |           AS chunk_md5
         |  FROM st)
         |SELECT chunk_md5,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_chunks
         |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
         |ORDER BY chunk_md5""".stripMargin),
    "q71_balanced_sample" -> withDocs(
      """, ranked AS (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk
        |  FROM docs)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
        |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM ranked WHERE rnk <= 100
        |GROUP BY lang ORDER BY lang""".stripMargin),
    "q76_repetition_filter" -> withDocs(
      s""", base AS (SELECT doc_id, words FROM docs WHERE len(words) >= 3),
         |g2 AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(words)),
         |           i -> words[i] || ' ' || words[i+1])) AS g
         |  FROM base),
         |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
         |t2 AS (SELECT doc_id, max(c) AS top2, sum(c) AS n2 FROM c2 GROUP BY 1),
         |g3 AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(words)-1),
         |           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS g
         |  FROM base),
         |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
         |t3 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3,
         |              sum(c) AS n3 FROM c3 GROUP BY 1)
         |SELECT doc_id,
         |       ${round4Sql("CAST(top2 AS DOUBLE) / CAST(n2 AS DOUBLE)")} AS top2_frac,
         |       ${round4Sql("CAST(dup3 AS DOUBLE) / CAST(n3 AS DOUBLE)")} AS dup3_frac,
         |       CAST(CASE WHEN CAST(top2 AS DOUBLE) / CAST(n2 AS DOUBLE) <= 0.05
         |                  AND CAST(dup3 AS DOUBLE) / CAST(n3 AS DOUBLE) <= 0.05
         |                 THEN 1 ELSE 0 END AS BIGINT) AS keep_doc
         |FROM t2 JOIN t3 USING (doc_id) ORDER BY doc_id""".stripMargin),
    "q72_token_percentiles" -> withDocs(
      """, base AS (
        |  SELECT doc_id, lang, CAST(len(words) AS BIGINT) AS n_tokens FROM docs),
        |ranked AS (
        |  SELECT lang, n_tokens,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY n_tokens, doc_id) AS BIGINT) AS rnk,
        |         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM base)
        |SELECT lang, max(n) AS n_docs,
        |       max(CASE WHEN rnk = CAST(ceil(n * 0.5) AS BIGINT) THEN n_tokens END) AS p50,
        |       max(CASE WHEN rnk = CAST(ceil(n * 0.9) AS BIGINT) THEN n_tokens END) AS p90,
        |       max(CASE WHEN rnk = CAST(ceil(n * 0.99) AS BIGINT) THEN n_tokens END) AS p99
        |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin),
    "q91_token_pctl_approx" -> withDocs(
      """, base AS (
        |  SELECT doc_id, lang, CAST(len(words) AS BIGINT) AS n_tokens FROM docs),
        |ranked AS (
        |  SELECT lang, n_tokens,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY n_tokens, doc_id) AS BIGINT) AS rnk,
        |         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM base)
        |SELECT lang, max(n) AS n_docs,
        |       max(CASE WHEN rnk = CAST(ceil(n * 0.5) AS BIGINT) THEN n_tokens END) AS p50,
        |       max(CASE WHEN rnk = CAST(ceil(n * 0.9) AS BIGINT) THEN n_tokens END) AS p90,
        |       CAST(1 AS BIGINT) AS approx_within_rank_band
        |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin),
    "q94_tfidf_terms" -> withDocs(
      s""", tk AS (
         |  SELECT doc_id, unnest(words) AS term FROM docs),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM tk WHERE term <> '' GROUP BY 1, 2),
         |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM docs),
         |sc AS (
         |  SELECT doc_id, term, tf, df,
         |         CAST(tf AS DOUBLE) * CAST(n_corpus AS DOUBLE) / CAST(df AS DOUBLE)
         |           AS score,
         |         CAST(row_number() OVER (PARTITION BY doc_id
         |           ORDER BY CAST(tf AS DOUBLE) * CAST(n_corpus AS DOUBLE)
         |                      / CAST(df AS DOUBLE) DESC,
         |                    term ASC) AS BIGINT) AS rank
         |  FROM tf JOIN dfx USING (term) CROSS JOIN nd)
         |SELECT doc_id, rank, term, tf, df, ${round4Sql("score")} AS score
         |FROM sc WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    "q96_bpe_merge_pairs" -> withDocs(
      """, wd AS (
        |  SELECT unnest(words) AS w FROM docs),
        |pr AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |           i -> substr(w, CAST(i AS INT), 2))) AS pair
        |  FROM wd WHERE length(w) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS freq
        |FROM pr GROUP BY pair
        |ORDER BY freq DESC, pair ASC LIMIT 10""".stripMargin))
}
