package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Session-scoped DataFrame memo shared by the star, dim, and pair-set
  * caches: one (session, dir, key) → materialized frame per build.
  *
  * The in-session analog of materializing a table to the warehouse (the
  * cross-run form is a real write — `StarBuilder.writeAll` for the star,
  * a pair table for dedup). `materialize` is the policy knob: `persist`
  * for re-read-many lazy frames, eager `localCheckpoint` for frames whose
  * construction runs jobs (surrogate ids, verified pairs), identity for
  * frames already materialized by their builder.
  *
  * Shared caveats, in one place instead of three: entries live for the
  * session (never evicted — keys are bounded: tables × sf dirs), and a
  * dir whose CONTENTS change mid-session would serve stale data (the
  * driver's dirs are immutable snapshots). Keys are namespaced by caller
  * ("star:", "dim:", "pairs:", "docs:", "events:", "bpe:", "mix:",
  * "knn:", "pq:" — grep
  * SessionMemo for the live list before adding one) so modules cannot
  * collide.
  *
  * WHAT MAY BE MEMOIZED (the r18/r19 adjudication, in one place):
  *
  *  1. Memos are INPUT ARTIFACTS, ideally shared by several gated
  *     queries: bounded marginals (cells over a type/value/calendar
  *     domain), serving indexes, pair sets — never a single query's own
  *     result body. Caching a query's result is result-caching across
  *     reps, which the bench contract forbids as gaming (q33's SimHash
  *     fold and q329's dense fold were declined for exactly this).
  *  2. Corpus-SCALED frames stay out regardless of sharing (the q212
  *     rule: user×day retention marginals ≈ event count at the driver
  *     SFs; pinning them trades executor storage for the blocks the
  *     rule exists to keep out). Only domain-bounded artifacts qualify.
  *  3. PRIMARY-BUILDS-FRESH: when a memo contains essentially a gated
  *     query's whole computation (cc:q32 labels ≡ q61's result,
  *     events:coocGrid ≡ q296 minus a top-20), the PRIMARY query's
  *     bench path must build that artifact fresh every rep so its
  *     median measures the build; only the derived consumers read the
  *     memo (q61 → q81/q86; q296 → q306).
  *  4. MODEL-ARTIFACT EXCEPTION (adjudicated r18 verdict → r19): the
  *     trained-model tables `text:dsirUniModel` (q143),
  *     `text:dsirBigramModel` (q146) and `text:nbLangidFit` (q148) are
  *     single-consumer memos of the FIT half of train-then-score
  *     queries. They stay memoized because (a) the fitted table is a
  *     feature-space-bounded input artifact of the scoring pass, the
  *     production train-once/score-many boundary, (b) the scoring pass
  *     — the query's serving contract — runs per rep, and (c) the fit
  *     cost is paid once, by the session's first call, where a
  *     per-session measurement still sees it. No FURTHER
  *     single-consumer memo may land without extending this list and
  *     its justification; anything beyond a fit/score split falls back
  *     to rule 1. */
private[graft] object SessionMemo {
  private val cache = TrieMap.empty[(SparkSession, String, String), DataFrame]

  def apply(spark: SparkSession, dir: String, key: String)
           (build: => DataFrame)
           (materialize: DataFrame => DataFrame): DataFrame =
    cache.getOrElseUpdate((spark, dir, key), materialize(build))

  private val onceDone = TrieMap.empty[(SparkSession, String, String), Unit]

  /** Effect-valued twin of [[apply]]: run `body` the first time this
    * (session, dir, key) is seen, skip it after — for idempotent
    * artifact builds (a scratch warehouse's base commit) whose re-run
    * per bench rep costs real write I/O without changing any result.
    * Same staleness caveat as the frame memo: the dir must be an
    * immutable snapshot. */
  def once(spark: SparkSession, dir: String, key: String)(body: => Unit): Unit =
    onceDone.getOrElseUpdate((spark, dir, key), body)
}
