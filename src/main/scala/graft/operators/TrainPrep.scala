package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Training-corpus preparation operators beyond dedup/similarity: the
  * filter/scrub/pack stages an LLM data pipeline runs between raw
  * crawl and tokenizer (Gopher/C4-style quality rules, repetition
  * signals, PII redaction, cross-document duplicated-phrase detection,
  * sequence packing).
  *
  * Scale design notes (100 TB):
  *  - qualityRules / piiScrub are pure per-row projections — no
  *    shuffle at all, fully codegen'd (regex + arithmetic), pushdown
  *    and partitioning of the input untouched.
  *  - repetition / dedupPhrases shuffle once by doc_id (window over
  *    token positions) and once by group key with map-side partial
  *    aggregation; nothing is quadratic in documents.
  *  - packSequences packs WITHIN a shard (`source`): a global running
  *    sum would serialize the whole corpus through one partition, and
  *    a training pipeline packs per input shard anyway. Each shard's
  *    running sum is one window partition — embarrassingly parallel
  *    across shards.
  */
object TrainPrep {

  import TextAnalysis.toks

  /** Gopher-style document quality gates (behavioral reference: the
    * quality heuristics described in the Gopher/MassiveText and C4
    * papers): word-count bounds, mean word length bounds, and minimum
    * stopword evidence. Emits the signals plus the verdict so the
    * downstream filter is explainable.
    */
  def qualityRules(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        toks(col("text")).as("t"),
        // sum of word lengths == non-whitespace chars: avoids an
        // interpreted per-element aggregate lambda
        length(regexp_replace(lower(col("text")), "\\s+", "")).as("chars"))
      .select(col("doc_id"), size(col("t")).as("n_words"), col("chars"),
        (array_contains(col("t"), "the").cast("int") +
          array_contains(col("t"), "a").cast("int") +
          array_contains(col("t"), "of").cast("int") +
          array_contains(col("t"), "to").cast("int") +
          array_contains(col("t"), "and").cast("int") +
          array_contains(col("t"), "in").cast("int")).as("stop_hits"))
      .select(col("doc_id"), col("n_words"),
        round(col("chars").cast("double") / col("n_words"), 4).as("mean_wlen"),
        col("stop_hits"),
        (col("n_words").between(50, 100000) &&
          (col("chars").cast("double") / col("n_words")).between(2.0, 10.0) &&
          col("stop_hits") >= 2).as("keep"))
      .orderBy(col("doc_id"))

  /** Within-document repetition signals (the Gopher repetition
    * filters): fraction of the document that is its single most
    * frequent word, and the duplicate fraction of word bigrams. High
    * values flag boilerplate/spam that length and stopword gates miss.
    */
  // MAP-ONLY repetition signals: per-document functions of the token
  // array `t` — the top-word count as the longest run of a SORTED copy
  // (O(n log n) per doc, no per-word join) and bigram distinct via
  // `transform` + `array_distinct`. Shared by [[repetition]] and
  // [[pipeline]]'s inlined gate (valid only where size(t) >= 2).
  private val maxRunExpr =
    """aggregate(array_sort(t),
      |  named_struct('p', CAST(NULL AS STRING), 'r', CAST(0 AS BIGINT),
      |               'm', CAST(0 AS BIGINT)),
      |  (a, x) -> named_struct(
      |    'p', x,
      |    'r', IF(a.p <=> x, a.r + 1, CAST(1 AS BIGINT)),
      |    'm', GREATEST(a.m, IF(a.p <=> x, a.r + 1, CAST(1 AS BIGINT)))),
      |  a -> a.m)""".stripMargin
  private val bigramsExpr =
    "transform(sequence(0, size(t) - 2), j -> concat(t[j], ' ', t[j + 1]))"

  def repetition(spark: SparkSession, dir: String): DataFrame = {
    // MAP-ONLY: the r17 shape (posexplode → doc-keyed window for
    // bigrams + two doc-keyed aggregates + a join — two exchanges of
    // corpus-token rows) collapses into one codegen'd projection. Rows
    // with < 2 tokens drop exactly as before (the bigram side's inner
    // join excluded them). Zero shuffles before the output sort; the
    // same arithmetic produces the same rounded fractions.
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        expr(maxRunExpr).as("max_wc"),
        size(col("t")).cast("long").as("n_words"),
        expr(s"size(array_distinct($bigramsExpr))").cast("long").as("d_bg"),
        (size(col("t")) - 1).cast("long").as("n_bg"))
      .select(col("doc_id"),
        round(col("max_wc").cast("double") / col("n_words"), 4).as("top_word_frac"),
        round(lit(1.0) - col("d_bg").cast("double") / col("n_bg"), 4).as("dup_2gram_frac"),
        ((col("max_wc").cast("double") / col("n_words")) <= 0.2 &&
          (lit(1.0) - col("d_bg").cast("double") / col("n_bg")) <= 0.3).as("keep"))
      .orderBy(col("doc_id"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction: count and replace email addresses and IPv4
    * literals. The synthetic corpus contains no PII, so deterministic
    * markers are injected (doc_id % 7 == 0) IDENTICALLY on the Spark
    * and oracle sides — the hash-match then certifies that both
    * engines find and replace exactly the same spans. Patterns stay in
    * the RE2 ∩ java.util.regex common subset so both engines agree.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com or 10.0."),
        col("doc_id") % 256, lit("."), col("doc_id") % 100))
      .otherwise(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(Ipv4Re), lit(0))).as("n_ips"),
        md5(regexp_replace(regexp_replace(col("aug"), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>")).as("scrub_md5"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document duplicated phrases: 5-gram shingles appearing in
    * ≥ `minDocs` distinct documents, by descending document frequency —
    * the signal behind exact-substring deduplication ("memorized
    * boilerplate"), approximated at n-gram granularity so it stays one
    * inverted-index aggregation (no suffix arrays, no quadratic work).
    */
  def dedupPhrases(spark: SparkSession, dir: String, minDocs: Int = 2): DataFrame = {
    // shingling is MAP-ONLY (the [[lineFrame]] slice/transform lesson):
    // the 5-gram windows come from `slice` over the token array and the
    // within-document dedup from `array_distinct` BEFORE the explode —
    // no posexplode + lead() window pass, so the hash(doc_id) exchange
    // + sort and the (doc, shingle) distinct exchange both disappear.
    // One exchange remains: the document-frequency aggregate on `s`
    // (same rows as before — array_distinct ≡ the old per-doc DISTINCT).
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 5)
      .select(explode(array_distinct(expr(
        """transform(sequence(0, size(t) - 5),
          |  j -> array_join(slice(t, j + 1, 5), ' '))""".stripMargin))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("s"))
      .limit(100)
  }

  /** Unigram log-probability score — the perplexity-filter proxy
    * (CCNet/Gopher filter corpora by LM perplexity; a unigram LM
    * trained on the corpus itself is its one-aggregation approximation
    * that needs no external model): per document, the mean of
    * ln p(w) = ln(c_w / N) weighted by the document's term counts.
    * Low scores mark gibberish/rare-token documents.
    *
    * Determinism across engines: a float SUM over per-word terms is
    * order-dependent in the last ulp, which can flip a rounded 4th
    * decimal between Spark and DuckDB (the q19 lesson). Each word's
    * ln p is therefore scaled to integer MICRO-NATS first —
    * `c_dw * round(ln(c_w/N)·1e6)::BIGINT` — so the per-doc sum is
    * exact integer arithmetic in any order; the single division and
    * round happen once at the end.
    *
    * Scale shape: token explode → (doc, word) counts → word join on
    * the corpus frequency table (equi-join, shuffle by word) → one
    * groupBy(doc). Nothing quadratic; N crosses as a broadcast scalar.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c_dw"))
    val freq = tf.groupBy(col("w")).agg(sum(col("c_dw")).as("c_w"))
    val n = freq.agg(sum(col("c_w")).as("n_total"))
    tf.join(freq, "w")
      .crossJoin(broadcast(n))
      .withColumn("micro_nats",
        col("c_dw") * expr("CAST(round(ln(c_w / n_total) * 1e6) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("micro_nats")).as("sn"), sum(col("c_dw")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sn").cast("double") / (col("n_tokens").cast("double") * 1e6), 4)
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document LINE deduplication — the C4/RefinedWeb boilerplate
    * scrub: a "line" occurring in ≥ `minDocs` distinct documents
    * (navigation chrome, cookie banners, signatures) is removed from
    * every document. The synthetic corpus has no newlines, so a line
    * is a fixed `lineTokens`-token chunk, and a deterministic
    * boilerplate sentence is injected on doc_id % 3 == 0 IDENTICALLY
    * on the Spark and oracle sides (the [[piiScrub]] pattern) — the
    * hash-match then certifies both engines find and drop exactly the
    * same lines. Emits per doc the line counts and the md5 of the
    * scrubbed reassembly.
    *
    * Scale shape: line construction is a map-only `slice`/`transform`
    * over the token array (no explode shuffle); document frequency is
    * ONE line-keyed aggregate; the heavy-line set scales with the
    * BOILERPLATE VOLUME — small relative to the corpus but not
    * constant, so marking goes through [[Curation.broadcastIfSmall]]
    * (broadcast left join while the set fits, plain shuffle join
    * above, AQE free to re-decide); the heavy set is memoized per
    * (session, corpus, params) and checkpoint-flattened
    * ([[heavyLines]]) so the size probe is control-plane and repeat
    * queries pay its corpus pass once. Totals + kept counts + scrubbed
    * reassembly all ride ONE doc-keyed aggregate (collect_list skips
    * the null-mapped heavy lines). Two corpus passes, two shuffles, no
    * corpus-sized join.
    */
  def lineDedup(spark: SparkSession, dir: String,
                lineTokens: Int = 5, minDocs: Int = 3): DataFrame =
    lineDedupImpl(spark, dir, lineTokens, minDocs)

  /** [[lineDedup]] with the broadcast-size guard exposed — the
    * [[Curation.dedupKeepImpl]] spec seam: `maxBroadcastRows = 0`
    * forces the shuffle-join fallback so the both-paths-agree spec can
    * certify the guard without a corpus big enough to trip it.
    */
  private[graft] def lineDedupImpl(spark: SparkSession, dir: String,
                                   lineTokens: Int = 5, minDocs: Int = 3,
                                   maxBroadcastRows: Long = 1000000L): DataFrame = {
    val (heavy, heavyCount, heavyArr) = heavyModel(spark, dir, lineTokens, minDocs)
    // MAP-ONLY scrub (r19) while the heavy set fits broadcast: the r18
    // shape exploded every line through a broadcast join and then
    // re-assembled documents through a corpus-sized groupBy(doc_id)
    // exchange (collect_list + array_sort of the full text — measured
    // ~1.2 s of the query's 1.55 s at sf0.1). Marking is per-doc array
    // work instead: the heavy set rides in ONCE as two array columns
    // (a 1-row broadcast), each line checks a 64-bit xxhash against
    // the hash array first (cheap long compares) and confirms string
    // equality only on hash hits — exact, and the full-string linear
    // scan that made a plain array_contains(lines) as slow as the
    // exchange it replaced runs on ~zero lines. Kept lines stay in
    // array (= line_id) order, so the reassembly is a plain
    // array_join — no shuffle anywhere before the output sort.
    // The count() probe is control-plane (the memoized checkpointed
    // heavy frame); past the guard the r18 join shape runs unchanged
    // (boilerplate at data scale keeps the data-plane join).
    if (heavyCount <= maxBroadcastRows) {
      lineArrays(spark, dir, lineTokens)
        .crossJoin(broadcast(heavyArr))
        .select(col("doc_id"), size(col("ls")).cast("int").as("n_lines"),
          filter(col("ls"), l =>
            !(array_contains(col("hh"), xxhash64(l)) &&
              array_contains(col("hl"), l))).as("kept"))
        .select(col("doc_id"), col("n_lines"),
          (col("n_lines") - size(col("kept"))).cast("bigint").as("n_dropped"),
          md5(array_join(col("kept"), " ")).as("scrub_md5"))
        .orderBy(col("doc_id"))
    } else {
      val lines = lineFrame(spark, dir, lineTokens)
      // one pass computes totals, kept count and the scrubbed reassembly:
      // the size-guarded left join marks heavy lines, collect_list skips
      // the null-mapped (dropped) ones, so no second corpus scan and no
      // doc-keyed re-join are needed
      lines.join(
          Curation.broadcastIfSmall(heavy, maxBroadcastRows),
          Seq("line"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_lines"),
          sum(when(col("hv").isNull, 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(
            transform(array_sort(collect_list(
              when(col("hv").isNull, struct(col("line_id"), col("line"))))),
              s => s.getField("line")), " ")).as("scrub_md5"))
        .select(col("doc_id"), col("n_lines"),
          (col("n_lines") - col("n_kept")).as("n_dropped"),
          col("scrub_md5"))
        .orderBy(col("doc_id"))
    }
  }

  /** The per-document (doc_id, ls) line-array frame — map-only
    * `slice`/`transform` line construction, no shuffle; lines are in
    * line_id order by construction.
    */
  private def lineArrays(spark: SparkSession, dir: String, lineTokens: Int): DataFrame = {
    val aug = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" please subscribe to our newsletter today")))
      .otherwise(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(aug).as("t"))
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, (size(t) + ${lineTokens - 1}) div $lineTokens - 1),
           |  j -> array_join(slice(t, j * $lineTokens + 1, $lineTokens), ' '))"""
          .stripMargin).as("ls"))
  }

  /** The (doc_id, line_id, line) exploded frame — [[lineArrays]] +
    * posexplode, consumed by [[heavyLines]] and the shuffle-join
    * fallback of [[lineDedupImpl]].
    */
  private def lineFrame(spark: SparkSession, dir: String, lineTokens: Int): DataFrame =
    lineArrays(spark, dir, lineTokens)
      .select(col("doc_id"), posexplode(col("ls")).as(Seq("line_id", "line")))

  /** The heavy-line (boilerplate) table, MEMOIZED per (session,
    * corpus, params) and localCheckpoint-flattened — the
    * [[Curation.dedupClusters]] build-once discipline: it is a
    * deterministic curation artifact (∝ boilerplate volume, « corpus),
    * its one corpus pass is paid once per session, and the flat tiny
    * frame makes [[Curation.broadcastIfSmall]]'s size probe a
    * control-plane job instead of a second corpus aggregation.
    */
  private val heavyCache =
    graft.SessionCaches.memo[(String, Int, Int), (DataFrame, Long, DataFrame)]()

  // (heavy frame, its row count, the 1-row (hl lines, hh xxhash64s)
  // array form the map-only scrub broadcasts) — one memoized artifact:
  // the count is the broadcast-size guard's probe and the array form
  // is a pure derivation, so computing either per query invocation
  // would be a control-plane job re-run on an immutable frame
  private def heavyModel(spark: SparkSession, dir: String,
                         lineTokens: Int, minDocs: Int): (DataFrame, Long, DataFrame) =
    heavyCache(spark, (dir, lineTokens, minDocs)) {
      val hv = lineFrame(spark, dir, lineTokens)
        .select(col("line"), col("doc_id")).distinct()
        .groupBy(col("line")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDocs)
        .select(col("line"), lit(true).as("hv"))
        .localCheckpoint()
      val arr = hv.agg(collect_list(col("line")).as("hl"),
        collect_list(xxhash64(col("line"))).as("hh"))
        .localCheckpoint()
      (hv, hv.count(), arr)
    }

  private[graft] def heavyLines(spark: SparkSession, dir: String,
                                lineTokens: Int = 5, minDocs: Int = 3): DataFrame =
    heavyModel(spark, dir, lineTokens, minDocs)._1

  /** EXACT SUBSTRING DEDUP (the other half of Lee et al. 2021,
    * arXiv:2107.06499 — [[dedupPhrases]] reports duplicated n-grams,
    * this REMOVES them): any span of ≥ `k` consecutive tokens shared
    * verbatim across ≥ 2 documents is scrubbed from every document.
    * Overlapping duplicated k-grams chain into maximal spans
    * automatically: a 30-token span shared by two documents puts every
    * one of its k-gram starts over the df threshold, so all 30 token
    * positions are covered and the whole span drops — the
    * suffix-array pass of the paper re-expressed as n-gram coverage.
    *
    * A deterministic boilerplate sentence injected on doc_id % 4 == 1
    * (the [[lineDedup]] marker discipline, replayed identically in the
    * oracle) guarantees long cross-document spans at every scale; the
    * hash-match certifies both engines find and scrub exactly the same
    * character ranges.
    *
    * Scale shape: the gram explode is k× the token stream (the known
    * cost of exact substring dedup); duplicated-gram detection is one
    * gram-keyed aggregate; marking is a semi-join back on gram; span
    * coverage folds to ONE doc-keyed collect_set aggregate, and the
    * scrub itself is a map-only indexed-lambda filter over the token
    * array — no token-level join, nothing quadratic, no driver data.
    */
  def spanDedup(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val boiler = " limited time offer click here to claim your free bonus now"
    val aug = when(col("doc_id") % 4 === 1, concat(col("text"), lit(boiler)))
      .otherwise(col("text"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), toks(aug).as("t"))
    val gramArr = when(size(col("t")) >= k,
      expr(s"transform(sequence(0, size(t) - $k), j -> array_join(slice(t, j + 1, $k), ' '))"))
      .otherwise(array().cast("array<string>"))
    val g2 = docs.select(col("doc_id"), posexplode(gramArr).as(Seq("i", "g")))
    val dup = g2.select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    val starts = g2.join(dup, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("i")).as("starts"))
    docs.join(starts, Seq("doc_id"), "left")
      .withColumn("cov",
        when(col("starts").isNull, array().cast("array<int>"))
          .otherwise(array_distinct(flatten(
            transform(col("starts"), s => sequence(s, s + k - 1))))))
      .withColumn("kept", filter(col("t"), (_, idx) => !array_contains(col("cov"), idx)))
      .select(col("doc_id"),
        size(col("t")).as("n_tokens"),
        size(col("cov")).cast("bigint").as("n_removed"),
        md5(array_join(col("kept"), " ")).as("scrub_md5"))
      .orderBy(col("doc_id"))
  }

  /** Blocklist words for [[toxicity]] — stand-ins drawn from the
    * synthetic vocabulary so the filter exercises real hits; a real
    * pipeline ships its actual unsafe-term list the same way (inlined
    * for small lists, broadcast join for lexicon-sized ones).
    */
  val BlockWords: Seq[String] = Seq("slow", "crash", "kill")

  /** Word-list safety filter (the C4 "bad words" gate): per document,
    * the number of blocklisted token occurrences, their fraction of all
    * tokens, and the keep verdict at `maxFrac`. The list is inlined
    * into the codegen'd predicate — a pure shuffle-free projection;
    * at 100 TB this is a map-only pass over the corpus.
    */
  def toxicity(spark: SparkSession, dir: String, maxFrac: Double = 0.02): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        size(filter(col("t"), x => x.isInCollection(BlockWords))).as("n_flagged"))
      .select(col("doc_id"), col("n_tokens"), col("n_flagged"),
        round(col("n_flagged").cast("double") / greatest(col("n_tokens"), lit(1)), 4)
          .as("flag_frac"),
        (col("n_flagged").cast("double") / greatest(col("n_tokens"), lit(1)) <= maxFrac)
          .as("keep"))
      .orderBy(col("doc_id"))

  /** THE END-TO-END CURATION PIPELINE in one query — the composition a
    * training-data team actually ships: quality gates
    * ([[qualityRules]]) ∧ safety gate ([[toxicity]]) ∧ repetition
    * gates ([[repetition]]) ∧ exact-dedup keeper
    * ([[TextAnalysis.fingerprintExpr]]) → deterministic split
    * assignment ([[Curation.corpusSplit]]) → per-(split, source)
    * shard report (doc/token counts — the numbers the tokenizer job
    * is handed). Every stage is individually oracle-verified; this
    * query certifies their COMPOSITION with one hash-match.
    *
    * Scale shape: one base projection (all per-row features in a
    * single pass), the repetition signals' one window pass joined
    * back doc-keyed, one fingerprint window for the keeper, map-only
    * split, one final tiny aggregate. Nothing new beyond the stages'
    * own costs; Catalyst pipelines the gates into the scan.
    */
  def pipeline(spark: SparkSession, dir: String): DataFrame = {
    // the repetition gate is MAP-ONLY since this round (see
    // [[repetition]]), so it rides the same base projection instead of
    // a doc-keyed join — the plan loses the join and both its
    // exchanges; the size(t) >= 2 conjunct reproduces the old inner
    // join's drop of sub-bigram documents exactly
    val repKeep = size(col("t")) >= 2 &&
      (expr(maxRunExpr).cast("double") / size(col("t"))) <= 0.2 &&
      (lit(1.0) - expr(s"size(array_distinct($bigramsExpr))").cast("double") /
        (size(col("t")) - 1)) <= 0.3
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        toks(col("text")).as("t"),
        length(regexp_replace(lower(col("text")), "\\s+", "")).as("chars"),
        TextAnalysis.fingerprintExpr(col("text")).as("fp"))
      .select(col("doc_id"), col("source"), col("fp"), col("chars"),
        size(col("t")).as("n_tokens"),
        (array_contains(col("t"), "the").cast("int") +
          array_contains(col("t"), "a").cast("int") +
          array_contains(col("t"), "of").cast("int") +
          array_contains(col("t"), "to").cast("int") +
          array_contains(col("t"), "and").cast("int") +
          array_contains(col("t"), "in").cast("int")).as("stop_hits"),
        size(filter(col("t"), x => x.isInCollection(BlockWords))).as("n_flagged"),
        repKeep.as("rep_keep"))
    base
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(
        col("n_tokens").between(50, 100000) &&
        (col("chars").cast("double") / col("n_tokens")).between(2.0, 10.0) &&
        col("stop_hits") >= 2 &&
        (col("n_flagged").cast("double") / greatest(col("n_tokens"), lit(1)) <= 0.02) &&
        col("rep_keep") &&
        col("doc_id") === col("keeper"))
      .withColumn("h2", substring(md5(col("doc_id").cast("string")), 1, 2))
      .withColumn("split",
        when(col("h2") < "f0", "train").when(col("h2") < "f8", "val").otherwise("test"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"), col("source"))
  }

  /** MODEL-BASED quality score — how a trained quality classifier
    * (fastText/logistic-regression style, the DCLM/FineWeb-Edu filter
    * shape) deploys in the engine: fixed offline-trained weights over
    * cheap per-document features, evaluated as one codegen'd
    * projection. The weights here are illustrative constants; a real
    * pipeline substitutes its trained vector — the DEPLOYMENT shape
    * (features → dot → sigmoid → threshold, map-only, no shuffle) is
    * what this certifies.
    */
  def qualityScore(spark: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame = {
    val stops = Seq("the", "a", "of", "to", "and", "in")
    val z = lit(-1.0) +
      lit(0.35) * log(col("n_tokens")) +
      lit(4.0) * col("stop_ratio") -
      lit(0.6) * (col("mean_wlen") - lit(5.0))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        toks(col("text")).as("t"),
        length(regexp_replace(lower(col("text")), "\\s+", "")).as("chars"))
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        size(filter(col("t"), x => x.isInCollection(stops))).as("stop_n"),
        col("chars"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("stop_n").cast("double") / col("n_tokens"), 4).as("stop_ratio_r"),
        round(col("chars").cast("double") / col("n_tokens"), 4).as("mean_wlen_r"),
        (col("stop_n").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("chars").cast("double") / col("n_tokens")).as("mean_wlen"))
      .select(col("doc_id"), col("n_tokens"),
        col("stop_ratio_r").as("stop_ratio"),
        col("mean_wlen_r").as("mean_wlen"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("score"),
        (lit(1.0) / (lit(1.0) + exp(-z)) >= threshold).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** BIGRAM log-probability score — the next step up from
    * [[unigramLogprob]] toward the real perplexity filter: per
    * document, the mean of ln p(w_i | w_{i-1}) under the corpus's own
    * bigram LM (no smoothing needed — every scored bigram was counted
    * at least once by the document containing it). Gibberish with
    * plausible words but implausible TRANSITIONS scores low here while
    * passing the unigram filter.
    *
    * Same engine-portability contract as [[unigramLogprob]]: each
    * bigram's ln p is scaled to integer MICRO-NATS before the per-doc
    * sum, so the aggregate is exact integer arithmetic in any order.
    *
    * Scale shape: one corpus pass (doc-keyed window for bigrams), one
    * (doc, bigram) aggregate, the corpus bigram/context tables derive
    * from IT (vocabulary² cardinality at most — no second corpus
    * scan), then two bigram-keyed equi-joins and one doc aggregate.
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    // RAW-OCCURRENCE n-gram rows (r19, second pass): the first r19
    // shape run-length-encoded the sorted per-doc gram array so the
    // gram exchange would carry per-doc counts instead of occurrences.
    // Measured compression on the contract corpus: 256,477 distinct
    // per-doc bigrams vs 265,704 occurrences — the RLE removed 3.5% of
    // exchange rows while paying an m·log m per-document STRING SORT
    // plus run assembly in the map stage (the measured map floor).
    // Occurrence rows (c ≡ 1) make every downstream aggregate — model
    // counts, per-doc sums — a plain count/sum, which stays map-side
    // partial-aggregated (guide §2.3): same bytes on the wire to
    // within 3.5%, minus the whole sort. A/B at sf0.1 and the 10×
    // fixture in plans/r19/; results equal row-for-row (everything
    // downstream was linear in the run length c).
    // ONE repartition(bigram) still serves both the model aggregate
    // and the scoring join (ReuseExchange; the q15 single-exchange
    // discipline), and the context marginal joins into the PAIR table
    // at model cardinality.
    val bg = gramOccurrences(spark, dir, 2).repartition(col("g"))
    val pair = bg.groupBy(col("g")).agg(count(lit(1)).as("c2"))
    // tokens are whitespace-split, so ' ' splits a gram unambiguously
    val ctx = pair.groupBy(substring_index(col("g"), " ", 1).as("w"))
      .agg(sum(col("c2")).as("c1"))
    val model = pair.withColumn("w", substring_index(col("g"), " ", 1))
      .join(ctx, Seq("w"))
      .select(col("g"), col("c2"), col("c1"))
    bg.join(model, Seq("g"))
      .withColumn("micro_nats",
        expr("CAST(round(ln(CAST(c2 AS DOUBLE) / c1) * 1e6) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("micro_nats")).as("sn"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sn").cast("double") / (col("n_bigrams").cast("double") * 1e6), 4)
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Per-document n-gram OCCURRENCE rows (doc_id, g), one row per gram
    * instance, computed MAP-ONLY: a transform over the token array and
    * an explode — no window, no sort, no per-doc aggregation.
    * Equivalent to the old posexplode → lead()-window pipeline
    * (spec-pinned via the logprob replays), minus its corpus-wide
    * doc-keyed exchange + sort.
    *
    * History (r19): the first r19 shape additionally run-length-encoded
    * the SORTED per-doc gram array so the downstream gram exchange
    * would carry (g, c) runs instead of occurrences. Measured on the
    * contract corpus the RLE compressed bigram rows by 3.5% and trigram
    * rows by 0.12% — natural text rarely repeats an n-gram within one
    * document — while its array_sort + run assembly was the dominant
    * map cost (and grows m·log m with document length). Both logprob
    * consumers are LINEAR in the run length c, so occurrence rows
    * (c ≡ 1) produce identical results; Spark's hash aggregates still
    * partial-aggregate map-side wherever counts are actually folded
    * (guide §2.3 "aggregate before you shuffle" is preserved — by the
    * aggregate operators, not by hand).
    *
    * The lambda references only the ATTRIBUTE `t`, never a derived
    * array expression — Catalyst does not CSE across lambda bodies, so
    * an inlined derivation would re-evaluate per element (quadratic per
    * document).
    */
  private[graft] def gramOccurrences(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val gram = (0 until n).map(k => s"t[j + $k]").mkString("concat_ws(' ', ", ", ", ")")
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - $n), j -> $gram)")).as("g"))
  }

  /** Trigram LM with STUPID BACKOFF (Brants et al. 2007) in integer
    * micro-nats — the CCNet-style perplexity filter one rung up from
    * [[bigramLogprob]], with the property that filter actually needs:
    * a TRAIN/SCORE split (model counts from even doc_ids, every doc
    * scored held-out style), so unseen trigrams genuinely back off
    * instead of the self-scoring degenerate case where every n-gram
    * was observed.
    *
    * Score of trigram (a,b,c): `ln(c3/ctx2)` if the train corpus saw
    * it, else `ln(α·bi/ctx1)` on the suffix bigram, else
    * `ln(α²·uni/N)` (OOV words score as count 1). α = 1/2 — dyadic,
    * so the α products are exact in IEEE doubles and the only
    * transcendental is the one `ln` both engines round to micro-nats.
    * All backoff tables derive from the trigram counts (suffix /
    * continuation marginals), so the model is one aggregation tree.
    *
    * Scale: two corpus passes (tokenize+window, then n-gram keyed
    * equi-joins); every model table is a map-side-combined aggregate
    * at vocabulary cardinality «corpus size; N is a broadcast scalar.
    */
  def trigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    // MAP-ONLY trigram counting + model tables PRE-ASSEMBLED at model
    // cardinality (r19): the r17 shape windowed the exploded token
    // stream, then chained FIVE left joins at corpus scale — each
    // re-exchanging every (doc, trigram) row by a different key
    // ((w,w2,w3), (w,w2), (w2,w3), (w2), (w3)). Now each backoff
    // level's numerator and denominator join at MODEL cardinality
    // first (tri⋈ctx2, bi⋈ctx1, uni×N — each row carrying its finished
    // micro-nat score), so scoring is three corpus-scale left joins on
    // single precomputed keys, with the trigram repartition shared by
    // the model build and the scoring join (ReuseExchange). The split-
    // by-backoff-level variant (score misses only) measured SLOWER at
    // sf0.1 (more stages than bytes saved) and was not adopted.
    // Second r19 pass: RAW OCCURRENCE rows replace the sorted-RLE
    // per-doc counts — the RLE compressed trigram exchange rows by
    // 0.12% (260,388 vs 260,704 on the contract corpus) while its
    // per-doc array_sort dominated the map stage; see
    // [[gramOccurrences]]. k ≡ 1 per row, so counts become count(*)
    // and the per-doc sums drop the multiplication.
    val tg = gramOccurrences(spark, dir, 3).repartition(col("g"))
    val tri = tg.filter(col("doc_id") % 2 === 0)
      .groupBy(col("g")).agg(count(lit(1)).as("c3"))
    val ctx2 = tri.groupBy(substring_index(col("g"), " ", 2).as("g12"))
      .agg(sum(col("c3")).as("n3"))
    val model3 = tri.withColumn("g12", substring_index(col("g"), " ", 2))
      .join(ctx2, Seq("g12"))
      .select(col("g"),
        expr("CAST(round(ln(CAST(c3 AS DOUBLE)/n3)*1e6) AS BIGINT)").as("lp3"))
    val bi = tri.groupBy(substring_index(col("g"), " ", -2).as("g23"))
      .agg(sum(col("c3")).as("b2"))
    val ctx1 = bi.groupBy(substring_index(col("g23"), " ", 1).as("w2"))
      .agg(sum(col("b2")).as("n1"))
    val model2 = bi.withColumn("w2", substring_index(col("g23"), " ", 1))
      .join(ctx1, Seq("w2"))
      .select(col("g23"),
        expr("CAST(round(ln(0.5 * CAST(b2 AS DOUBLE)/n1)*1e6) AS BIGINT)").as("lp2"))
    val uni = tri.groupBy(substring_index(col("g"), " ", -1).as("w3"))
      .agg(sum(col("c3")).as("u1"))
    val total = tri.agg(sum(col("c3")).as("nn"))
    val model1 = uni.crossJoin(broadcast(total))
      .select(col("w3"),
        expr("CAST(round(ln(0.25 * CAST(u1 AS DOUBLE)/nn)*1e6) AS BIGINT)").as("lp1"))
    tg.withColumn("g23", substring_index(col("g"), " ", -2))
      .withColumn("w3", substring_index(col("g"), " ", -1))
      .join(model3, Seq("g"), "left")
      .join(model2, Seq("g23"), "left")
      .join(model1, Seq("w3"), "left")
      .crossJoin(broadcast(total))
      // the OOV fallback (w3 unseen in the train half) is the r17
      // coalesce(u1,1) case: ln(0.25·1/N) computed inline from N
      .withColumn("lp", coalesce(col("lp3"), col("lp2"), col("lp1"),
        expr("CAST(round(ln(0.25 / nn)*1e6) AS BIGINT)")))
      .withColumn("bo", when(col("lp3").isNull, 1L).otherwise(lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("bo")).as("n_backoff"),
        sum(col("lp")).as("sn"))
      .select(col("doc_id"), col("n_trigrams"), col("n_backoff"),
        round(col("sn").cast("double") / (col("n_trigrams").cast("double") * 1e6), 4)
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Shared doc → (doc_id, source, toks) projection: the ONE token
    * count both batch packers and the streaming packer
    * ([[graft.streaming.PackFollow]]) consume, so the stream cannot
    * drift from the batch bin/offset arithmetic.
    */
  private[graft] def docToksOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), size(toks(col("text"))).as("toks"))

  /** Shared span arithmetic over a frame carrying (toks, cum): bin =
    * the segment the document's first token falls in, offset = its
    * position inside that bin. Consumed by [[packManifest]] (corpus
    * prefix-sum) and [[graft.streaming.PackFollow]] (carry +
    * increment prefix-sum).
    */
  private[graft] def spanify(df: DataFrame, budget: Int): DataFrame =
    df.withColumn("bin", expr(s"(cum - toks) div $budget"))
      .withColumn("offset", col("cum") - col("toks") - col("bin") * budget)

  /** Sequence packing: concatenate documents in deterministic order and
    * cut at a `budget`-token boundary — each document's bin is the
    * segment its first token falls in (the standard pretraining
    * concat-and-chunk). Packing is per `source` shard; bins are
    * reported with their document and token counts.
    */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 512): DataFrame = {
    val win = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docToksOf(Tables.documents(spark, dir))
      .withColumn("cum", sum(col("toks")).over(win))
      .withColumn("bin", expr(s"(cum - toks) div $budget"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  /** OVERLAPPING-WINDOW CHUNKING — the embedding/RAG prep step every
    * retrieval pipeline runs before vectorizing: each document splits
    * into token windows of `budget` tokens at stride `budget-overlap`,
    * consecutive chunks sharing `overlap` tokens so no semantic unit
    * is cut without a copy that keeps its context. Chunk starts are
    * `i·stride < n_toks` — deterministic, engine-portable arithmetic;
    * the chunk text is the joined token slice and the output carries
    * its md5 (small rows, content still certified byte-for-byte by the
    * hash-match).
    *
    * Scale shape: one map-only projection (tokenize once, slice per
    * chunk via explode(sequence)) — output ∝ chunks, no shuffle before
    * the final ORDER BY; at 100 TB this is the pass that feeds the
    * embedding model's batch scorer.
    */
  def chunk(spark: SparkSession, dir: String,
            budget: Int = 128, overlap: Int = 32): DataFrame = {
    require(overlap >= 0 && overlap < budget, s"need 0 <= overlap < budget, got $overlap/$budget")
    val stride = budget - overlap
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("source"), col("t"), col("n"),
        explode(expr(s"sequence(0L, (n - 1) div $stride)")).as("i"))
      .select(col("doc_id"), col("source"), col("i").as("chunk_id"),
        (col("i") * stride).as("start_tok"),
        least(lit(budget.toLong), col("n").cast("long") - col("i") * stride).as("n_tok"),
        md5(concat_ws(" ", slice(col("t"), (col("i") * stride + 1).cast("int"), lit(budget))))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** The CONSUMABLE form of [[packSequences]]: per (source, bin) the
    * ordered span list `(doc_id, offset, toks)` — offset is the
    * document's first-token position inside the bin, so a downstream
    * tokenizer job can materialize each training sequence by
    * concatenating exactly these documents at exactly these positions.
    * A document starts in the bin its first token falls in, hence
    * every offset is in [0, budget); a document longer than the
    * remaining budget spills into the next bin's token range without
    * re-chunking (the standard concat-and-chunk overflow).
    *
    * Same plan shape as [[packSequences]] — one per-shard window plus
    * one aggregate; the span list per bin is bounded by budget (a bin
    * holds at most `budget` documents), so collect_list state is
    * bounded regardless of corpus size.
    */
  def packManifest(spark: SparkSession, dir: String, budget: Int = 512): DataFrame = {
    val win = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spanify(docToksOf(Tables.documents(spark, dir))
      .withColumn("cum", sum(col("toks")).over(win)), budget)
      .groupBy(col("source"), col("bin"))
      .agg(
        sort_array(collect_list(struct(col("doc_id"), col("offset"), col("toks"))))
          .as("spans"),
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  /** First-fit-decreasing sequence packing — the padding-minimizing
    * packer training pipelines use when documents must NOT be split
    * across sequences (contrast [[packSequences]], which chunks).
    * Global FFD is inherently sequential, so it runs BLOCK-LOCAL: docs
    * are assigned to fixed-size blocks of `blockSize` docs per source
    * (deterministic: doc_id rank order), and FFD packs within a block.
    * Blocks are independent → embarrassingly parallel, state bounded
    * by blockSize regardless of corpus size; block-local packing costs
    * a little fill vs global FFD but is the standard distributed
    * compromise.
    *
    * The per-block loop is a `flatMapGroups` over (source, block) —
    * genuine per-group imperative logic (greedy first-fit), bounded at
    * blockSize docs per group. Docs longer than `budget` get a
    * singleton overflow bin (never split).
    */
  def packBestFit(spark: SparkSession, dir: String,
                  budget: Int = 512, blockSize: Int = 64): DataFrame = {
    import spark.implicits._
    val blocked = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks(col("text"))).as("toks"))
      .withColumn("block", expr(s"(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) div $blockSize"))
      .as[(Long, String, Int, Long)]
    blocked.groupByKey { case (_, source, _, block) => (source, block) }
      .flatMapGroups { (key: (String, Long), rows: Iterator[(Long, String, Int, Long)]) =>
        val (source, block) = key
        // first-fit-decreasing: sort by toks desc (doc_id tiebreak for
        // determinism), place each doc in the first bin with room
        val docs = rows.map { case (id, _, t, _) => (id, t) }.toArray
          .sortBy { case (id, t) => (-t, id) }
        val binToks = scala.collection.mutable.ArrayBuffer.empty[Int]
        val binDocs = scala.collection.mutable.ArrayBuffer.empty[List[Long]]
        docs.foreach { case (id, t) =>
          val fit = binToks.indices.find(i => binToks(i) + t <= budget)
          fit match {
            case Some(i) => binToks(i) += t; binDocs(i) = id :: binDocs(i)
            case None    => binToks += t;    binDocs += List(id)
          }
        }
        binToks.indices.iterator.map { i =>
          (source, block, i.toLong, binDocs(i).sorted.toArray,
            binDocs(i).length.toLong, binToks(i).toLong)
        }
      }
      .toDF("source", "block", "bin", "doc_ids", "n_docs", "n_tokens")
      .orderBy(col("source"), col("block"), col("bin"))
  }

  /** PER-EPOCH TRAINING ORDER — the data-loader's "global shuffle per
    * epoch", deterministic: each epoch orders the whole corpus by
    * `md5(epoch:doc_id)` (a fresh pseudo-random permutation per epoch,
    * reproducible across runs/engines/partitionings — a crashed epoch
    * resumes at a position instead of rerolling the order).
    *
    * Scale shape — [[Curation.mixBudget]]'s bucket decomposition
    * applied to RANKING: the naive plan is `row_number() OVER
    * (PARTITION BY epoch ORDER BY ord)` — ONE task sorting the whole
    * corpus per epoch, the skewed-key window class this repo never
    * ships. Instead the md5 prefix byte splits each epoch into 256
    * buckets whose lexicographic (bucket, ord) order IS the global
    * md5 order: per-(epoch, bucket) counts are a map-side-combined
    * control-plane agg (256×epochs rows), bucket START offsets come
    * from a running sum over that tiny frame, and the per-row rank is
    * a window over (epoch, bucket) — 256-way parallel, each partition
    * ~corpus/256. `position = bucket_offset + rank_in_bucket` equals
    * the global rank exactly, which the DuckDB oracle (one naive
    * global `row_number` per epoch) certifies hash-for-hash.
    *
    * `sorted = false` (the LIBRARY default) returns the frame
    * UNSORTED: the position column already IS the product — a data
    * loader range-partitions or looks positions up by key, and a
    * global range sort of corpus×epochs rows purely for presentation
    * is wasted work at scale. The CONTRACT query keeps `sorted = true`
    * because the oracle compare is row-order-sensitive.
    */
  def epochOrder(spark: SparkSession, dir: String, epochs: Int = 3,
                 sorted: Boolean = false): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(s"sequence(0, ${epochs - 1})")).as("epoch"))
      .withColumn("ord",
        md5(concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("bucket", substring(col("ord"), 1, 2))
    val offsets = keyed.groupBy(col("epoch"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum(col("n")).over(
          Window.partitionBy(col("epoch")).orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("epoch"), col("bucket"), col("offset"))
    val positioned = keyed
      .withColumn("r", row_number().over(
        Window.partitionBy(col("epoch"), col("bucket"))
          .orderBy(col("ord"), col("doc_id"))))
      .join(broadcast(offsets), Seq("epoch", "bucket"))
      .select(col("epoch"), (col("offset") + col("r")).as("position"), col("doc_id"))
    if (sorted) positioned.orderBy(col("epoch"), col("position")) else positioned
  }
}
