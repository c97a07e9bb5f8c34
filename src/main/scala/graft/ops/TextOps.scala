package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, language ID, fingerprinting.
  *
  * All pure Column expressions (whole-stage codegen, no UDFs, no shuffles
  * until an explicit aggregation) — the per-row work parallelizes
  * embarrassingly at 100 TB.
  */
object TextOps {

  val FingerprintMod: Long = graft.expr.TextFingerprint.Mod

  /** Whitespace tokens (corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word k-shingles ("n-gram" units for Jaccard/MinHash), in
    * first-occurrence order: the native [[graft.expr.Shingles]] window
    * loop. Fewer than k tokens give `[]`, a NULL array gives NULL.
    */
  def shingles(ws: Column, k: Int = 3): Column =
    graft.expr.Shingles.shinglesCol(ws, k)

  /** Rolling polynomial fingerprint over characters:
    * h = fold(code points)(h * 31 + cp  mod  1e9+7), the native
    * [[graft.expr.TextFingerprint]] loop. Deterministic and cheap; used
    * for exact-dup detection without materializing full texts.
    */
  def fingerprint(text: Column): Column =
    graft.expr.TextFingerprint.fingerprintCol(text)

  // tiny marker-word profiles; honest n-gram/stopword-voting heuristic
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"))

  /** Marker-token count for one language profile. */
  def langScore(ws: Column, lang: String): Column =
    size(filter(ws, w => w.isin(langMarkers(lang): _*)))

  /** Language-ID by stopword-profile voting with a fixed tie order
    * (en > de > es), 'und' when no marker hits.
    */
  def langId(ws: Column): Column = {
    val en = langScore(ws, "en"); val de = langScore(ws, "de")
    val es = langScore(ws, "es")
    when(en === 0 && de === 0 && es === 0, lit("und"))
      .when(en >= de && en >= es, lit("en"))
      .when(de >= es, lit("de"))
      .otherwise(lit("es"))
  }

  /** BPE-ish subword segmentation (GPT-2-family pre-tokenizer shape:
    * space-prefixed letter runs, digit runs, punctuation runs). The
    * pattern sticks to literal classes so Java and RE2 agree — the
    * count is reproducible against any engine. Codegen'd regexp, no UDF.
    */
  val BpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Per-doc token accounting: whitespace tokens vs BPE-ish segments —
    * the unit a training-mix budget is expressed in.
    */
  def tokenCounts(doc: DataFrame, textCol: String = "text"): DataFrame =
    doc.select(col("doc_id"),
      size(tokens(col(textCol))).cast(LongType).as("n_ws_tokens"),
      size(bpeTokens(col(textCol))).cast(LongType).as("n_bpe_tokens"),
      length(col(textCol)).cast(LongType).as("n_chars"))

  /** Corpus-level vocabulary: per token, total occurrences and document
    * frequency. One explode then a single groupBy(tok) shuffle —
    * occurrences combine map-side; the doc-frequency half dedups
    * (tok, doc_id) pairs inside the same aggregate via count(distinct),
    * which Spark plans as the standard two-phase expand/partial-agg.
    * Top-k consumers should order by (n_occ desc, tok) for determinism.
    */
  def vocab(doc: DataFrame, textCol: String = "text"): DataFrame =
    doc.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** Corpus collocations by PMI (Church & Hanks, CL 1990 — public):
    * adjacent-token bigram counts against unigram counts. All counting
    * is integer-exact; `lift` = p(ab) / (p(a)·p(b)) is pure IEEE
    * arithmetic in ONE fixed evaluation order (bit-reproducible across
    * engines — quantize it, not the log), `pmi` = log2(lift) for
    * callers. Exchanges carry tokens and bigrams, never documents; the
    * corpus-total factors join in as broadcast 1-row aggregates, not
    * driver-side collects. `minCount` drops hapax pairs (standard —
    * keeps the PMI tail stable).
    */
  def collocations(doc: DataFrame, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    // Corpus-pass budget (r13, fixing the r12 regression — guide §2.3
    // still, but without the machinery that anti-scaled): the totals are
    // ONE map-side 1-row aggregate over the docs — n_tok = Σ|tokens| and
    // n_bg = Σ max(|tokens|−1, 0) are exactly the explode-row counts the
    // old 4-pass version aggregated (split() emits every element,
    // ngrams(·,2) emits max(n−1,0) rows) for the price of a scan with no
    // explode and no shuffle. That frees the bigram count table of its
    // second consumer, so it needs NO persist (one consumer: the
    // minCount filter), and only `uni` — genuinely consumed twice (n_a
    // and n_b join sides; Catalyst does not reuse exchanges across
    // aliases) — stays persisted. No fanOut: these are the cheap
    // explode→aggregate passes the r12 A/B measured FASTER fused into
    // the scan task than paying a round-robin exchange (ts19/ts12/ts16;
    // the r12 ts24 rewrite shipped fanOut+2 persists unbenched and the
    // driver measured 2.2→7.1 s at 32 cores).
    // ONE fanned-out tokenization, persisted; totals, unigrams and
    // bigrams all read the cached token arrays. The cache barrier is
    // load-bearing twice over: (a) one corpus scan + split serves three
    // consumers, (b) Generate's inferred non-empty-array filter
    // (InferFiltersFromGenerate) otherwise pushes the WHOLE pair-array
    // expression below the fan-out exchange and re-derives it in the
    // single pre-exchange scan task (measured 5.1 s of the 5.9 s total
    // at sf0.1 — the ngramJaccardPairs filter-above-cache hazard, which
    // also afflicted the shipped r12 version's explode(ngrams(...))).
    val wsBound = col("__ws")
    val tok = graft.io.Tables.fanOut(doc)
      .select(tokens(col(textCol)).as("__ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(ScratchCaches.track)
    val totals = tok.agg(
      coalesce(sum(size(wsBound).cast(LongType)), lit(0L)).as("n_tok"),
      coalesce(sum(greatest(size(wsBound) - 1, lit(0)).cast(LongType)),
        lit(0L)).as("n_bg"))
    val uni = tok.select(explode(wsBound).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(ScratchCaches.track)
    // adjacent pairs as STRUCTS straight off the token array — the
    // ngrams() route built a "a b" string per bigram (concat_ws + slice
    // allocation) only for split() to take it apart again; tokens are
    // space-split so the round-trip was lossless and pure overhead
    val bc = tok
      .select(when(size(wsBound) < 2,
          array().cast(ArrayType(StructType(Seq(
            StructField("a", StringType), StructField("b", StringType))))))
        .otherwise(transform(sequence(lit(1), size(wsBound) - 1),
          i => struct(element_at(wsBound, i).as("a"),
            element_at(wsBound, i + 1).as("b")))).as("ps"))
      .select(explode(col("ps")).as("p"))
      .select(col("p")("a").as("a"), col("p")("b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    val lift = (col("n_ab").cast(DoubleType) * col("n_tok") * col("n_tok")) /
      (col("n_bg").cast(DoubleType) * col("n_a") * col("n_b"))
    bc.join(uni.select(col("t").as("a"), col("c").as("n_a")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("n_b")), "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        lift.as("lift"), log2(lift).as("pmi"))
  }

  /** Per-document token familiarity against the corpus unigram table:
    * average / min / max corpus frequency of the document's tokens. The
    * rare-token density this exposes is the classic OCR-noise / gibberish
    * signal, and the arithmetic is integer counts plus ONE IEEE double
    * division — no transcendentals, so any engine reproduces it bit-wise
    * (a log-based surprisal would differ across libm builds). Two
    * shuffles: the unigram groupBy and the doc re-aggregation; the vocab
    * join side is vocabulary-sized (broadcastable after a frequency cap
    * at real scale).
    */
  def tokenFamiliarity(doc: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = doc.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
    val unigram = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
    toks.join(unigram, "tok")
      .groupBy("doc_id")
      .agg((sum("freq").cast(DoubleType) / count(lit(1)))
          .as("avg_tok_freq"),
        min("freq").as("min_tok_freq"),
        max("freq").as("max_tok_freq"))
  }

  /** Markup-strip + whitespace-normalize + Unicode-NFC text cleaning —
    * the first pass of a web-corpus training pipeline. Tag removal is a
    * deliberately simple regex (angle-bracket runs without '>'
    * inside) — real HTML needs a parser; this is the cheap pre-filter
    * shape. Whitespace runs (incl. tabs/newlines) collapse to single
    * spaces and the result is trimmed. NFC is the codegen'd native
    * expression [[graft.expr.NfcNormalize]], not a UDF — the whole
    * clean is one whole-stage-codegen'd projection, no shuffle.
    */
  def cleanText(text: Column): Column =
    graft.expr.NfcNormalize.nfc(trim(regexp_replace(
      regexp_replace(text, "<[^>]*>", " "), "\\s+", " ")))

  // PII patterns chosen from the regex dialect Java and RE2 agree on
  // (no backrefs/lookaround): the safety-scrub pass every published web
  // corpus pipeline runs before training. Order matters — emails first
  // (their local parts contain digits a later pass would mangle), then
  // IPs (dotted digits would half-match the phone pattern), phones last.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\+?\\d[\\d -]{7,}\\d"

  /** PII scrubbing: emails / IPv4s / phone-shaped digit runs replaced by
    * typed placeholder tokens. Pure codegen'd projection — no shuffle,
    * no UDF; at 100 TB this is a map-only pass fused into whatever scan
    * feeds it.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  /** Count of PII matches the scrub would redact (audit metric). */
  def piiCount(text: Column): Column =
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(regexp_replace(text, EmailRe, "<EMAIL>"),
        lit(Ipv4Re), lit(0))) +
      size(regexp_extract_all(regexp_replace(regexp_replace(text,
        EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"),
        lit(PhoneRe), lit(0)))).cast(LongType)

  /** Overlapping character-window chunks — the context-window prep pass
    * of an embedding/training pipeline: windows of `size` chars every
    * `stride` chars (size > stride ⇒ overlap = size - stride). Explodes
    * to one row per (doc, chunk): row count grows as len/stride with no
    * shuffle — the gate's orderBy is the only exchange.
    */
  def chunks(docs: DataFrame, size: Int, stride: Int,
      textCol: String = "text"): DataFrame = {
    require(stride > 0 && size >= stride, "need size >= stride > 0")
    docs.select(col("doc_id"),
        explode(sequence(lit(0), greatest(length(col(textCol)) - 1, lit(0)),
          lit(stride))).as("off"),
        col(textCol))
      .select(col("doc_id"), (col("off") / stride).cast(LongType).as("chunk_id"),
        col(textCol).substr(col("off") + 1, lit(size)).as("chunk"))
      .where(length(col("chunk")) > 0)
  }

  /** BM25 relevance of every document against a bag of query terms —
    * the corpus-search/quality-ranking pass (Robertson-Sparck Jones
    * BM25, public). Distributed shape: the token explode filters to the
    * query terms IMMEDIATELY (the corpus-wide term stream never
    * shuffles — only (doc, query-term) counts do), document length and
    * corpus stats ride along as broadcast 1-row/`|terms|`-row joins,
    * and the per-(doc, term) score folds map-side into the final
    * per-doc sum. Scores round to 6 decimals so cross-engine oracle
    * comparison is ulp-stable.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).cast(DoubleType).as("dl"))
    val stats = dl.agg(count(lit(1)).cast(DoubleType).as("n"),
      avg(col("dl")).as("avgdl"))
    val tf = tok.where(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).cast(DoubleType).as("tf"))
    val dft = tf.groupBy("tok").agg(count(lit(1)).cast(DoubleType).as("dft"))
    tf.join(broadcast(dft), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n") - col("dft") + 0.5) / (col("dft") + 0.5)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("doc_id")
      .agg(round(sum(col("s")), 6).as("score"))
  }

  /** Non-distinct word k-grams — repetition analysis needs multiplicity
    * (contrast `shingles`, which dedupes for set-Jaccard).
    */
  def ngrams(ws: Column, k: Int): Column =
    when(size(ws) < k, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(1), size(ws) - (k - 1)),
        i => concat_ws(" ", slice(ws, i, lit(k)))))

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — public): hash every word k-gram with the rolling
    * polynomial [[fingerprint]], slide a w-window over the hash
    * sequence, keep each window's minimum, dedupe. The winnowing
    * guarantee: any shared token run of length >= k + w - 1 between two
    * documents yields at least one shared fingerprint, while the
    * selected set is ~2/(w+1) of all gram hashes — a tunable sketch of
    * the document that detects partial overlap (plagiarism-style),
    * which whole-document hashing ([[fingerprint]]) and set-Jaccard
    * (which needs the full shingle sets at verify time) don't give at
    * the same cost.
    *
    * Degenerate inputs: fewer grams than one window collapse to the
    * single overall minimum; no grams give an empty set. Pure Column
    * expressions — O(grams * w) comparisons per row, all inside
    * whole-stage codegen, no shuffle.
    */
  def gramHashes(ws: Column, k: Int = 3): Column =
    transform(ngrams(ws, k), g => fingerprint(g))

  /** Window-min selection over a PRECOMPUTED gram-hash array column.
    *
    * `hs` must be a materialized column (a bound reference), not an
    * inline expression: this expression references `hs` inside the
    * per-window lambda, and an inline hash-array subtree would be
    * re-evaluated once per window — O(grams² · gram-length) per row
    * (measured 134 s on 5k docs before the split; ~1 s after).
    */
  def winnowHashes(hs: Column, w: Int = 4): Column =
    when(size(hs) === 0, array().cast(ArrayType(LongType)))
      .when(size(hs) < w, array(array_min(hs)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(hs) - (w - 1)),
        i => array_min(slice(hs, i, lit(w))))))

  /** Repetition signals for quality filtering (the Gopher-rule family:
    * duplicate n-gram fractions, most-frequent-n-gram share). Pure
    * Column math: the mode count is the longest equal run of the SORTED
    * n-gram array, computed with one `aggregate` fold — no explode, no
    * shuffle, the whole row stays in codegen.
    */
  def repetitionStats(doc: DataFrame, textCol: String = "text"): DataFrame = {
    val ws = tokens(col(textCol))
    def dupFrac(k: Int): Column = {
      val g = ngrams(ws, k)
      when(size(g) === 0, lit(0.0)).otherwise(
        (size(g) - size(array_distinct(g))).cast(DoubleType) / size(g))
    }
    def topRun(k: Int): Column = {
      val sorted = array_sort(ngrams(ws, k))
      when(size(sorted) === 0, lit(0L)).otherwise(aggregate(
        sorted,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc("best"), run).as("best"))
        },
        acc => acc("best")))
    }
    doc.select(col("doc_id"),
      size(ws).cast(LongType).as("n_tokens"),
      dupFrac(2).as("dup_bigram_frac"),
      dupFrac(3).as("dup_trigram_frac"),
      topRun(2).as("top_bigram_count"))
      .withColumn("top_bigram_frac",
        when(col("n_tokens") > 1,
          col("top_bigram_count").cast(DoubleType) / (col("n_tokens") - 1))
          .otherwise(lit(0.0)))
  }

  /** Quality metrics: all integer-exact (oracle-friendly) plus a derived
    * double ratio (deterministic: int/int division in IEEE doubles).
    */
  /** PII-style redaction patterns for training corpora. Deliberately
    * RE2-compatible (no lookaround, no backreferences) so the same
    * patterns run under Java regex here and RE2-based engines
    * elsewhere — the ts7 tokenizer's portability rule. Order matters:
    * URLs before emails (a URL may embed an @), emails before digit
    * runs.
    */
  val RedactionPatterns: Seq[(String, String)] = Seq(
    "https?://[^ ]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+" -> "<EMAIL>",
    "\\+?[0-9][0-9-]{6,}[0-9]" -> "<PHONE>")

  /** Redacted text: chained codegen'd regexp_replace, no UDF. */
  def redact(text: Column): Column =
    RedactionPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Per-row redaction counts (url_n, email_n, phone_n), counted on the
    * same masking order redact uses so overlaps attribute identically.
    */
  def redactionCounts(text: Column): Column = {
    val masked0 = text
    val (counts, _) = RedactionPatterns.foldLeft(
      (Seq.empty[Column], masked0)) { case ((acc, cur), (pat, tag)) =>
      (acc :+ size(regexp_extract_all(cur, lit(pat), lit(0))),
        regexp_replace(cur, pat, tag))
    }
    struct(counts(0).as("url_n"), counts(1).as("email_n"),
      counts(2).as("phone_n"))
  }

  /** Unigram language-model perplexity scoring — the classic LM-based
    * quality signal (CCNet/KenLM-style, with a unigram model trained on
    * the corpus itself instead of an external LM): per document the
    * cross-entropy H = -(1/n) Σ log2 p(tok) under the corpus unigram
    * distribution p(tok) = freq/total, and perplexity 2^H. High
    * perplexity = rare-token-dense (OCR noise, gibberish); low = stock
    * phrases. Distributed shape mirrors [[tokenFamiliarity]]: one
    * unigram groupBy (vocabulary-sized result, broadcastable at scale
    * after a frequency floor), a token→frequency join, one per-doc
    * re-aggregation — the corpus token stream shuffles once on `tok`
    * and once on `doc_id`, both short-key exchanges. Scores round (6
    * decimals for bits, 4 for perplexity) so the one transcendental
    * (log2) is ulp-stable across engines — the ts12 BM25 rule.
    */
  /** Cross-corpus perplexity (the CCNet wiki-LM quality signal —
    * Wenzek et al., LREC 2020, public): per-document perplexity under a
    * unigram LM trained on a REFERENCE corpus, add-one smoothed over
    * the reference vocabulary (every unseen token shares one OOV
    * bucket, so the measure is total). Low = in-domain. Same dataflow
    * as [[unigramPerplexity]], but the distribution joins in from
    * `ref`: a vocabulary-sized count table (broadcastable at scale) +
    * one broadcast 1-row total — documents themselves never shuffle,
    * the per-doc aggregation is the only corpus-side exchange.
    */
  def crossPerplexity(doc: DataFrame, ref: DataFrame,
      textCol: String = "text"): DataFrame = {
    val toks =
      doc.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
    val counts = ref.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val stats = counts.agg(sum("freq").as("n_ref"),
      count(lit(1)).as("v_ref"))
    toks.join(counts, Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("__p",
        (coalesce(col("freq"), lit(0L)) + 1).cast(DoubleType) /
          (col("n_ref") + col("v_ref") + 1).cast(DoubleType))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (-sum(log2(col("__p"))) / count(lit(1))).as("h"))
      .select(col("doc_id"), col("n_tokens"),
        col("h").as("cross_entropy_bits"),
        pow(lit(2.0), col("h")).as("perplexity"))
  }

  def unigramPerplexity(doc: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = doc.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
    val unigram = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
    val total = unigram.agg(sum("freq").as("total"))
    toks.join(unigram, "tok")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (-sum(log2(col("freq").cast(DoubleType) / col("total")))
          / count(lit(1))).as("h"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("h"), 6).as("cross_entropy_bits"),
        round(pow(lit(2.0), col("h")), 4).as("perplexity"))
  }

  /** Linear quality classifier (the CCNet / GPT-3 quality-filter shape,
    * public): a fixed-weight logistic model over interpretable document
    * features. The linear score uses one fixed left-to-right evaluation
    * order so the IEEE double arithmetic is bit-identical to an oracle
    * writing the same formula (verified at the bit level); outputs are
    * RAW doubles — quantize with exact integer ops (floor(x*1e6+0.5)),
    * never engine round(), when comparing across engines: round()'s
    * double→decimal conversion differs between engines at half-way
    * boundaries (hit in testing). Weights compile into the projection —
    * scoring is pure map-side, zero shuffles, and swapping in trained
    * weights is a parameter change, not a new dataflow.
    */
  def qualityClassifier(doc: DataFrame,
      wTtr: Double = 2.0, wStop: Double = 3.0, wLen: Double = 0.004,
      wTokLen: Double = -0.5, bias: Double = -2.0,
      textCol: String = "text"): DataFrame = {
    val m = qualityMetrics(doc, textCol)
    val avgTokLen =
      col("sum_token_len").cast(DoubleType) / col("n_tokens")
    val score = lit(bias) +
      lit(wTtr) * col("type_token_ratio") +
      lit(wStop) * col("stopword_ratio") +
      lit(wLen) * col("n_tokens").cast(DoubleType) +
      lit(wTokLen) * avgTokLen
    m.select(col("doc_id"), score.as("score"),
      (lit(1.0) / (lit(1.0) + exp(-score))).as("prob"))
  }

  def qualityMetrics(doc: DataFrame, textCol: String = "text"): DataFrame = {
    val ws = tokens(col(textCol))
    doc.select(
      col("doc_id"),
      length(col(textCol)).cast(LongType).as("n_chars"),
      size(ws).cast(LongType).as("n_tokens"),
      size(array_distinct(ws)).cast(LongType).as("n_distinct"),
      aggregate(transform(ws, w => length(w)), lit(0),
        (a, x) => a + x).cast(LongType).as("sum_token_len"),
      langScore(ws, "en").cast(LongType).as("n_stopwords"))
      .withColumn("type_token_ratio",
        col("n_distinct").cast(DoubleType) / col("n_tokens"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast(DoubleType) / col("n_tokens"))
  }
}
