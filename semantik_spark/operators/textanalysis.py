"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, document fingerprinting.

All pure Column expressions (JVM-side, oracle-checkable). These extend
the reference's content sniffers (shared/pipeline/sniff.py:478-766 —
is_code / is_structured probes) into the columns a 100 TB text pipeline
filters on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from semantik_spark.config import ENGLISH_STOPWORDS, LANG_STOPWORDS
from semantik_spark.functions.hashing import hash60
from semantik_spark.functions.text import (
    lit_str_array,
    raw_tokens,
    shingles_from_tokens,
    whitespace_tokens,
)
from semantik_spark.functions.vectors import _bind
from semantik_spark.functions.caching import cache


def _stopword_hits(tokens: Column, words: list[str]) -> Column:
    wl = lit_str_array(words)
    return F.size(F.filter(tokens, lambda t: F.array_contains(wl, t)))


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc_id, lang_pred, lang_hits — function-word-hit language ID.

    argmax over per-language function-word hit counts. Tie rule
    (driver-pinned, mirrored by the oracle's fr→es→en→de CASE
    priority): equal hit counts resolve to the alphabetically LAST
    language — array_max compares (hits, lang) structs
    lexicographically, so the greater lang string wins the tie.
    Zero-hit docs resolve to 'unknown'.
    """
    # let-bind the token array: every language's hit count references it,
    # and Catalyst would re-run the regex tokenizer once per language
    def _pairs(toks: Column) -> Column:
        return F.array(*[
            F.struct(
                _stopword_hits(toks, LANG_STOPWORDS[lang]).cast("bigint").alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_STOPWORDS)
        ])

    # max by (hits, lang) struct order — ties go to the LATER alphabet
    # (see docstring tie rule; the oracle's CASE priority mirrors it)
    best = _bind(raw_tokens(text_col), lambda t: F.array_max(F.transform(
        _pairs(t), lambda p: F.struct(p["hits"].alias("hits"), p["lang"].alias("lang"))
    )))
    # materialize the argmax struct once: the final projection references
    # it three times, and CollapseProject keeps non-cheap multi-referenced
    # aliases in their own Project instead of re-inlining them
    base = docs.select(F.col(id_col).alias("doc_id"), best.alias("_best"))
    return base.select(
        "doc_id",
        F.when(F.col("_best")["hits"] > 0, F.col("_best")["lang"])
        .otherwise(F.lit("unknown")).alias("lang_pred"),
        F.col("_best")["hits"].alias("lang_hits"),
    )


def quality_features(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc quality columns: n_chars, n_words, avg_word_len,
    punct_ratio, digit_ratio, stopword_ratio, quality_score ∈ [0,1].

    The score is a deterministic heuristic blend (Gopher/C4-style rule
    features): penalize too-short docs, punctuation/digit soup, and
    stopword-free word salad.
    """
    t = F.col(text_col)
    toks = whitespace_tokens(text_col)
    n_chars = F.length(t).cast("bigint")
    n_words = F.size(toks).cast("bigint")
    avg_wl = F.when(n_words > 0, n_chars.cast("double") / n_words).otherwise(0.0)
    punct = F.length(F.regexp_replace(t, r"[^\p{Punct}]", "")).cast("bigint")
    digits = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("bigint")
    stop_hits = _stopword_hits(raw_tokens(text_col), ENGLISH_STOPWORDS)
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(0.0)
    digit_ratio = F.when(n_chars > 0, digits.cast("double") / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_words > 0, stop_hits.cast("double") / n_words).otherwise(0.0)
    length_ok = F.when(n_words >= 10, 1.0).otherwise(n_words.cast("double") / 10.0)
    wordlen_ok = F.when((avg_wl >= 3.0) & (avg_wl <= 12.0), 1.0).otherwise(0.5)
    score = (
        0.4 * length_ok
        + 0.2 * wordlen_ok
        + 0.2 * (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0)))
        + 0.1 * (1.0 - F.least(digit_ratio * 4.0, F.lit(1.0)))
        + 0.1 * F.least(stop_ratio * 2.0, F.lit(1.0))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        avg_wl.alias("avg_word_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


# GPT-2-style pre-tokenization, simplified to constructs Java regex and
# RE2 share (no lookahead): contractions, space-prefixed letter runs,
# space-prefixed digit runs, space-prefixed punctuation runs, whitespace
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc_id, n_chars, ws_tokens (whitespace), re_tokens (word regex),
    bpe_tokens (GPT-2-style pre-tokenizer segment count — the unit a
    real BPE would start merging from), est_tokens (chars/4 heuristic —
    the reference's count_tokens estimate, character_strategy.py:270)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).cast("bigint").alias("n_chars"),
        F.size(whitespace_tokens(text_col)).cast("bigint").alias("ws_tokens"),
        F.size(raw_tokens(text_col)).cast("bigint").alias("re_tokens"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
        ).cast("bigint").alias("bpe_tokens"),
        F.ceil(F.length(text_col) / 4.0).cast("bigint").alias("est_tokens"),
    )


def _word_ngrams(toks: Column, n: int) -> Column:
    """Non-distinct word n-grams from a materialized token array (the
    arrays_zip-of-shifted-slices shape from functions.text, kept
    non-distinct because repetition counting needs duplicates)."""
    sz = F.size(toks)
    width = sz - n + 1
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, width) for j in range(n)])
    grams = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


def repetition_features(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals: fraction of
    duplicate non-empty lines and of duplicate word 2-/3-grams
    (1 − distinct/total; 0 for docs below the gram width). All linear
    per-doc array expressions — no explode, no shuffle, so the pass
    stays map-only at any corpus size. (Gopher counts duplicate
    *characters*; we count duplicate units, the deterministic
    oracle-checkable variant.)"""
    t = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        lines.alias("_lines"),
        whitespace_tokens(text_col).alias("_toks"),
    )

    def dup_frac(arr: Column) -> Column:
        total = F.size(arr)
        return F.when(
            total > 0,
            1.0 - F.size(F.array_distinct(arr)).cast("double") / total,
        ).otherwise(0.0)

    return base.select(
        "doc_id",
        F.size("_lines").cast("bigint").alias("n_lines"),
        F.round(dup_frac(F.col("_lines")), 6).alias("dup_line_frac"),
        F.round(dup_frac(_word_ngrams(F.col("_toks"), 2)), 6).alias("dup_2gram_frac"),
        F.round(dup_frac(_word_ngrams(F.col("_toks"), 3)), 6).alias("dup_3gram_frac"),
    )


def curation_decision(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      min_chars: int = 100, max_chars: int = 10000,
                      min_quality: float = 0.5,
                      max_dup_2gram: float = 0.3) -> DataFrame:
    """The composed keep/drop verdict a C4/Gopher-style curation pass
    applies per document: doc_id, keep BOOLEAN, reason (first failing
    rule in fixed order: too_short → too_long → low_quality →
    repetitive → 'ok'). One join of the quality and repetition feature
    passes — both map-only, so the decision costs two scans and one
    doc_id-key join at any corpus size."""
    q = quality_features(docs, id_col, text_col).select(
        "doc_id", "n_chars", "quality_score"
    )
    r = repetition_features(docs, id_col, text_col).select(
        "doc_id", "dup_2gram_frac"
    )
    j = q.join(r, "doc_id")
    reason = (
        F.when(F.col("n_chars") < min_chars, F.lit("too_short"))
        .when(F.col("n_chars") > max_chars, F.lit("too_long"))
        .when(F.round(F.col("quality_score"), 6) < min_quality, F.lit("low_quality"))
        .when(F.col("dup_2gram_frac") > max_dup_2gram, F.lit("repetitive"))
        .otherwise(F.lit("ok"))
    )
    return j.select(
        "doc_id",
        F.col("n_chars"),
        F.round("quality_score", 6).alias("quality_score"),
        F.col("dup_2gram_frac"),
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def fingerprint(docs: DataFrame, n: int = 4,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc_id, fingerprint BIGINT — min-hash over n-word shingles
    (winnowing-style representative hash): equal fingerprints ⇒ very
    likely near-identical prefix content; used as a cheap pre-cluster
    key before exact dedup."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), whitespace_tokens(text_col).alias("_toks")
    )
    sh = shingles_from_tokens(F.col("_toks"), n)
    return toks.select(
        "doc_id",
        F.array_min(F.transform(sh, lambda s: hash60(s))).alias("fingerprint"),
    )


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-unigram language-model quality score: per document, the
    average log-probability of its tokens under the corpus unigram
    distribution — the cheap end of the perplexity-filter family
    (CCNet / Gopher quality signals use a KenLM score of the same
    shape). Low avg_logprob = rare-token-heavy documents.

    Returns doc_id, n_tokens, avg_logprob (6dp).

    Float parity: per-term ln(tf/total) is rounded to 9dp and summed as
    DECIMAL(28,9) — exact, order-independent — so Spark's parallel
    aggregation matches DuckDB bit-for-bit regardless of sum order.

    Scale: one vocab groupBy (map-side combined) + one term->logprob
    join (vocab is tiny vs corpus — broadcast) + one doc groupBy. No
    Python, no all-pairs anything.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(raw_tokens(text_col)).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("tf"))
    total = counts.agg(F.sum("tf").cast("double").alias("total"))
    lp = counts.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(F.log(F.col("tf") / F.col("total")), 9).cast("decimal(20,9)").alias("lp"),
    )
    return (
        toks.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.sum("lp").cast("decimal(28,9)").alias("_slp"),
        )
        .select(
            "doc_id", "n_tokens",
            F.round(F.col("_slp").cast("double") / F.col("n_tokens"), 6).alias("avg_logprob"),
        )
    )


def build_vocab(docs: DataFrame, size: int = 1000,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Tokenizer-vocabulary induction: the top-``size`` whitespace
    tokens by total collection frequency, with contiguous ids assigned
    in (freq DESC, term ASC) order — the frequency-vocab step of
    training-tokenizer pipelines (and the deterministic baseline a BPE
    trainer starts from).

    Returns term, freq, doc_freq, vocab_id (0-based).

    Scale: one explode + groupBy(term) with map-side combine is the
    wide shuffle; the top-N is TakeOrdered (no global sort
    materialization), and the id window runs on the N surviving rows
    only — a deliberate driver-scale single partition, same class as
    the IVF codebook."""
    from semantik_spark.functions.text import whitespace_tokens

    freqs = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(whitespace_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("freq"),
             F.count_distinct("doc_id").cast("bigint").alias("doc_freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(size)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    return freqs.select(
        "term", "freq", "doc_freq",
        (F.row_number().over(w) - 1).cast("bigint").alias("vocab_id"),
    )


def collocations(docs: DataFrame, min_count: int = 5, top_k: int = 50,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church &
    Hanks 1990): PMI(a,b) = log2(P(ab) / (P(a)P(b))) over adjacent
    token bigrams, keeping pairs seen at least ``min_count`` times and
    returning the ``top_k`` by (PMI DESC, bigram ASC).

    Returns word_a, word_b, n_pair, n_a, n_b, pmi (6dp).

    Scale: unigram and bigram counts are two groupBys with map-side
    combine; the count joins shuffle on the word key (vocab-scale, not
    corpus-scale, after aggregation); totals broadcast; top-k is
    TakeOrdered. PMI inputs are exact integers, so both engines derive
    the same doubles."""
    from semantik_spark.functions.text import whitespace_tokens

    tok = cache(docs.select(F.col(id_col).alias("doc_id"),
                            whitespace_tokens(text_col).alias("toks")))
    uni = (
        tok.select(F.explode("toks").alias("w"))
        .groupBy("w").agg(F.count("*").cast("bigint").alias("n_w"))
    )
    sz = F.size("toks")
    width = sz - 1
    zipped = F.arrays_zip(F.slice("toks", 1, width), F.slice("toks", 2, width))
    pairs = F.when(
        sz >= 2,
        F.transform(zipped, lambda s: F.struct(s["0"].alias("a"), s["1"].alias("b"))),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    big_all = (
        tok.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("word_a"), F.col("p.b").alias("word_b"))
        .groupBy("word_a", "word_b")
        .agg(F.count("*").cast("bigint").alias("n_pair"))
    )
    big = big_all.where(F.col("n_pair") >= min_count)
    totals = uni.agg(
        F.sum("n_w").cast("double").alias("t_uni")
    ).crossJoin(
        # P(ab) normalizes by the TOTAL bigram mass, computed BEFORE
        # the min_count cut: normalizing by the filtered total would
        # overstate every PMI by the constant log2 of the dropped tail
        # mass (Church & Hanks define P(ab) = c(ab)/N over all
        # bigrams; collocations_llr's nn already does this correctly)
        big_all.agg(F.sum("n_pair").cast("double").alias("t_big"))
    )
    scored = (
        big.join(uni.select(F.col("w").alias("word_a"), F.col("n_w").alias("n_a")), "word_a")
        .join(uni.select(F.col("w").alias("word_b"), F.col("n_w").alias("n_b")), "word_b")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.log2((F.col("n_pair") / F.col("t_big"))
                   / ((F.col("n_a") / F.col("t_uni")) * (F.col("n_b") / F.col("t_uni")))),
        )
    )
    # rank on the ROUNDED pmi so the top-k cut is identical across
    # engines even when raw doubles differ in the last ulp
    return (
        scored.orderBy(F.desc(F.round(F.col("pmi"), 6)),
                       F.asc("word_a"), F.asc("word_b"))
        .limit(top_k)
        .select("word_a", "word_b", "n_pair", "n_a", "n_b",
                F.round("pmi", 6).alias("pmi"))
    )


def readability(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Flesch reading-ease scoring — the classic surface-statistics
    readability measure used as a cheap quality/complexity signal in
    corpus curation (alongside quality_features' length/punct ratios).

    Counts are pure regexp aggregates so the whole operator is one
    narrow JVM-side projection (WholeStageCodegen, zero shuffle, zero
    Python): words = latin letter runs, sentences = terminal
    punctuation runs (floored at 1), syllables = vowel-group runs
    floored at one per word. flesch = 206.835 - 1.015*(words/sentences)
    - 84.6*(syllables/words); docs with no words score null. A coarse
    CEFR-ish band is derived from the score for group-by consumption.
    """
    t = F.col(text_col)
    words = F.regexp_count(t, F.lit(r"[A-Za-z]+"))
    sentences = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.greatest(F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")), words)
    flesch = F.when(
        words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (words / sentences)
            - F.lit(84.6) * (syllables / words),
            6,
        ),
    )
    band = (
        F.when(flesch.isNull(), F.lit("empty"))
        .when(flesch >= 80, F.lit("easy"))
        .when(flesch >= 60, F.lit("standard"))
        .when(flesch >= 30, F.lit("difficult"))
        .otherwise(F.lit("very_difficult"))
    )
    return docs.select(
        F.col(id_col),
        words.cast("int").alias("n_words"),
        sentences.cast("int").alias("n_sentences"),
        syllables.cast("int").alias("n_syllables"),
        flesch.alias("flesch"),
        band.alias("band"),
    )


def bigram_logprob(docs: DataFrame, alpha: float = 0.5,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Bigram language-model quality score — the CCNet-style "perplexity
    under a corpus LM" filter one level up from unigram_logprob: per
    document, the mean add-alpha-smoothed conditional log-probability
    ln P(w_i | w_{i-1}) of its adjacent whitespace bigrams, and the
    corresponding perplexity. Low-probability (incoherent, shuffled,
    boilerplate-stitched) text scores far below fluent text even when
    its unigram mix looks normal.

    Engine-portable determinism, same recipe as unigram_logprob: each
    bigram's log-prob is rounded to 9 dp and summed as DECIMAL(28,9)
    (order-independent), only the final mean/perplexity are doubles.

    Scale: bigram extraction is map-side (slice+zip on the materialized
    token array); the model is vocab²-bounded after aggregation, joined
    back on the bigram key (sort-merge at scale — every doc bigram hits
    the model by construction since the model came from the corpus);
    V travels as a broadcast 1-row aggregate. Docs with < 2 tokens have
    no bigrams and drop out (mirrored in the oracle).
    """
    from semantik_spark.functions.text import whitespace_tokens

    tok = docs.select(F.col(id_col).alias("doc_id"),
                      whitespace_tokens(text_col).alias("toks"))
    sz = F.size("toks")
    width = sz - 1
    zipped = F.arrays_zip(F.slice("toks", 1, width), F.slice("toks", 2, width))
    pairs = F.when(
        sz >= 2,
        F.transform(zipped, lambda s: F.struct(s["0"].alias("a"), s["1"].alias("b"))),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    dbg = cache(
        tok.select("doc_id", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.col("p.a").alias("wa"),
            F.concat_ws(" ", "p.a", "p.b").alias("gram"),
        )
    )
    bgc = dbg.groupBy("gram").agg(
        F.first("wa").alias("wa"),  # gram determines wa
        F.count("*").cast("bigint").alias("c12"),
    )
    uni = (
        tok.select(F.explode("toks").alias("w"))
        .groupBy("w").agg(F.count("*").cast("bigint").alias("c1"))
    )
    v = uni.agg(F.count("*").cast("bigint").alias("vsz"))
    model = (
        bgc.join(uni, bgc["wa"] == uni["w"])
        .crossJoin(F.broadcast(v))
        .select(
            "gram",
            F.round(
                F.log((F.col("c12") + F.lit(alpha)) / (F.col("c1") + F.lit(alpha) * F.col("vsz"))),
                9,
            ).cast("decimal(20,9)").alias("lp"),
        )
    )
    agg = (
        dbg.join(model, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.sum("lp").cast("decimal(28,9)").alias("slp"),
        )
    )
    avg = F.col("slp").cast("double") / F.col("n_bigrams")
    return agg.select(
        "doc_id", "n_bigrams",
        F.round(avg, 6).alias("avg_logprob"),
        F.round(F.exp(-avg), 6).alias("ppl"),
    )


def boilerplate_stats(docs: DataFrame, min_frac: float = 0.3,
                      min_docs: int = 2, id_col: str = "doc_id",
                      text_col: str = "text",
                      source_col: str = "source") -> DataFrame:
    """Per-SOURCE boilerplate detection — the template/navigation/legal
    text that web extraction leaves behind: a normalized sentence is
    boilerplate for a source when it appears in >= ``min_frac`` of that
    source's documents (and >= ``min_docs`` absolute). Complements
    dedup.sentence_dedup_stats, whose threshold is corpus-global and
    absolute: a footer on 30% of one domain's pages is boilerplate even
    if globally rare, while a popular quote repeated across sources is
    NOT (jusText/Trafilatura make this same per-site distinction).

    Returns doc_id, n_sentences, n_boilerplate, bp_frac (6dp).

    Scale: explode → one groupBy on (source, sentence-hash) with
    map-side combine, per-source doc counts broadcast back (|sources|
    rows), hash-join of the boilerplate set onto the sentence stream on
    (source, h) — co-partitioned with the groupBy that produced it, so
    AQE reuses the exchange.
    """
    from semantik_spark.functions.hashing import hash60

    sents = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("src"),
            F.explode(F.split(F.col(text_col), r"[.!?] ")).alias("s"),
        )
        .select("doc_id", "src", F.lower(F.trim(F.col("s"))).alias("s"))
        .where(F.col("s") != "")
        .withColumn("h", hash60("s"))
    )
    src_sizes = docs.groupBy(F.col(source_col).alias("src")).agg(
        F.count_distinct(F.col(id_col)).alias("n_src_docs")
    )
    bp = (
        sents.groupBy("src", "h")
        .agg(F.count_distinct("doc_id").alias("n_with"))
        .join(F.broadcast(src_sizes), "src")
        .where((F.col("n_with") >= min_docs)
               & (F.col("n_with") / F.col("n_src_docs") >= min_frac))
        .select("src", "h", F.lit(1).alias("is_bp"))
    )
    return (
        sents.join(bp, ["src", "h"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_sentences"),
            F.sum(F.coalesce(F.col("is_bp"), F.lit(0))).cast("int").alias("n_boilerplate"),
        )
        .withColumn("bp_frac", F.round(F.col("n_boilerplate") / F.col("n_sentences"), 6))
    )


def zipf_fit(docs: DataFrame, top_n: int = 1000,
             text_col: str = "text") -> DataFrame:
    """One-row corpus health check: least-squares fit of log(freq) on
    log(rank) over the top_n raw tokens — natural corpora follow
    Zipf's law with slope ≈ -1; a slope far off it flags synthetic,
    truncated, or boilerplate-heavy data before it reaches training.

    n_terms, slope, intercept, r2 (6 dp). Uses the SQL regression
    aggregates (regr_slope / regr_intercept / regr_r2 — identical
    definitions in Spark and DuckDB), so the fit is one partial-
    aggregable pass: tokenize → term count (one shuffle with map-side
    combine) → global top_n (TakeOrdered) → single-row regression agg.
    """
    counts = (
        docs.select(F.explode(raw_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    # TakeOrdered top_n FIRST (distributed, no global sort), then rank the
    # tiny survivor set — the single-partition row_number window only ever
    # sees top_n rows, not the full vocabulary
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(top_n)
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = top.withColumn("rank", F.row_number().over(w).cast("double"))
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.round(F.expr("regr_slope(ln(cnt), ln(rank))"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(ln(cnt), ln(rank))"), 6).alias("intercept"),
        F.round(F.expr("regr_r2(ln(cnt), ln(rank))"), 6).alias("r2"),
    )


#: the Gopher stop-word presence list (Rae et al. 2021, App. A2)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000) -> DataFrame:
    """The published Gopher quality-filter rule set (Rae et al. 2021,
    Appendix A2) as pure Column expressions — one map-only pass, no
    shuffle, trivially 100 TB-parallel:

      word count in [min_words, max_words]
      mean word length in [3, 10]
      symbol-to-word ratio ('#' or '...') <= 0.1
      <= 90% of lines start with a bullet; <= 30% end with ellipsis
      >= 80% of words contain an alphabetic character
      >= 2 distinct Gopher stop words present

    Every ratio test is CROSS-MULTIPLIED in exact integers (e.g.
    ``10*symbols <= n_words`` instead of a double divide), so boundary
    documents evaluate identically in Spark and the DuckDB oracle.
    Output: doc_id, n_words, per-rule booleans, keep, and the first
    failing rule name in fixed order (reference-style reason codes).
    """
    t = F.col(text_col)
    words = whitespace_tokens(text_col)
    n_words = F.size(words).cast("bigint")
    sum_wl = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    n_sym = (F.regexp_count(t, F.lit(r"#")) +
             F.regexp_count(t, F.lit(r"\.\.\."))).cast("bigint")
    lines = F.filter(F.split(t, "\n"), lambda l: F.length(F.trim(l)) > 0)
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"^[-*•‣▪]")
    )).cast("bigint")
    n_ellipsis = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"\.\.\.$")
    )).cast("bigint")
    n_alpha = F.size(F.filter(
        words, lambda w: w.rlike("[A-Za-z]")
    )).cast("bigint")
    lowered = F.transform(words, F.lower)
    n_stop = F.size(F.array_intersect(
        lowered, lit_str_array(GOPHER_STOPWORDS)
    )).cast("bigint")

    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_word_len = (3 * n_words <= sum_wl) & (sum_wl <= 10 * n_words)
    ok_symbols = 10 * n_sym <= n_words
    ok_bullets = (10 * n_bullet <= 9 * n_lines) & (10 * n_ellipsis <= 3 * n_lines)
    ok_alpha = 5 * n_alpha >= 4 * n_words
    ok_stop = n_stop >= 2

    reason = (
        F.when(~ok_words, F.lit("word_count"))
        .when(~ok_word_len, F.lit("word_length"))
        .when(~ok_symbols, F.lit("symbol_ratio"))
        .when(~ok_bullets, F.lit("bullet_ellipsis"))
        .when(~ok_alpha, F.lit("non_alpha"))
        .when(~ok_stop, F.lit("stopwords"))
        .otherwise(F.lit("ok"))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        ok_words.alias("ok_words"),
        ok_word_len.alias("ok_word_len"),
        ok_symbols.alias("ok_symbols"),
        ok_bullets.alias("ok_bullets"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def char_entropy(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Character-level Shannon entropy per document plus the top-char
    mass — the model-free degenerate-text detector (keyboard mash,
    base64 blobs, and single-char padding all sit far from natural
    text's ~4.0-4.5 bits/char; the classic complement to word-level
    repetition filters).

    Entropy terms are per-(doc, char) probabilities with the -p*log2(p)
    contribution rounded to 8 dp DECIMAL before the per-doc sum, so the
    score is order-free across engines.

    Returns (doc_id, n_chars, n_distinct_chars, entropy_microbits,
    top_char_frac) — entropy in integer 1e-8-bit units (divide by 1e8
    for bits/char): emitting the exact integer sum avoids the final
    round-to-decimal, whose half-up boundary differs between
    BigDecimal-string and C-float rounding pipelines.

    Scale: one shuffle on (doc_id, char) — chars per doc are bounded by
    the alphabet after the groupBy, so the per-doc reduce side is tiny;
    everything else is map-side combinable.
    """
    chars = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(text_col), "")).alias("ch"),
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.partitionBy("doc_id")
    per = counts.withColumn("n", F.sum("c").over(w))
    p = F.col("c").cast("double") / F.col("n")
    # integer MICRO-BITS per term (the unigram-tokenizer micro-nat
    # discipline): bits = ln(p)/ln(2) with ln2 a shared double literal
    # (Spark's log2 is ln/ln(2), DuckDB's is direct libm log2 — 1 ulp
    # apart), then floor(x*1e8 + 0.5) — floor of an identical double is
    # identical everywhere, unlike round-to-decimal whose half-up
    # boundary semantics differ between BigDecimal and C rounding
    term = F.floor(
        -p * F.log(p) / F.lit(0.6931471805599453) * 1e8 + 0.5
    ).cast("bigint")
    return (
        per.groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_chars"),
            F.count("*").cast("bigint").alias("n_distinct_chars"),
            F.sum(term).cast("bigint").alias("entropy_microbits"),
            F.round(F.max("c").cast("double") / F.max("n"), 6)
            .alias("top_char_frac"),
        )
    )


def token_gini(docs: DataFrame, deciles: int = 10,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gini coefficient + Lorenz curve of the corpus term-frequency
    distribution — the concentration summary next to zipf_fit: how much
    of the token mass the head of the vocabulary owns. A training-mix
    diagnostic (a corpus whose Gini jumps after a scrape went wrong is
    suddenly dominated by boilerplate tokens).

    Terms sort by frequency ASC (term ASC ties); with rank i in 1..V,
      gini = 2·Σ(i·f_i) / (V·Σf) − (V+1)/V
    — integer sums all the way (DECIMAL(38,0)), one terminal double
    division, so the score is engine-exact. The Lorenz curve reports,
    per vocabulary decile, the cumulative share of token mass owned by
    the poorest ceil(V·d/deciles) terms.

    Scale: term counting is the corpus scan (map-side combined); the
    sort/window runs over the VOCAB-bounded frequency table (the
    zipf_fit discipline) — fine for any natural-language vocabulary.
    """
    from semantik_spark.functions.text import whitespace_tokens

    tf = (
        docs.select(F.explode(whitespace_tokens(text_col)).alias("term"))
        .groupBy("term").agg(F.count("*").cast("bigint").alias("f"))
    )
    wr = Window.orderBy(F.asc("f"), F.asc("term"))
    ranked = tf.select(
        "term", "f", F.row_number().over(wr).cast("bigint").alias("i"))
    wall = Window.partitionBy()
    wcum = Window.orderBy(F.asc("i")).rowsBetween(
        Window.unboundedPreceding, 0)
    dec = F.ceil(F.col("i") * deciles / F.col("_V")).cast("int")
    enriched = ranked.select(
        "term", "f", "i",
        F.count("*").over(wall).cast("bigint").alias("_V"),
        F.sum("f").over(wall).cast("decimal(38,0)").alias("_S"),
        F.sum(F.col("i").cast("decimal(38,0)")
              * F.col("f").cast("decimal(38,0)")).over(wall).alias("_S1"),
        F.sum(F.col("f").cast("decimal(38,0)")).over(wcum).alias("_cum"),
    ).withColumn("decile", dec)
    per_dec = enriched.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.max("_cum").alias("_cum_top"),
        F.max("_S").alias("_S"), F.max("_S1").alias("_S1"),
        F.max("_V").alias("_V"),
    )
    gini = F.round(
        F.lit(2.0) * F.col("_S1").cast("double")
        / (F.col("_V").cast("double") * F.col("_S").cast("double"))
        - (F.col("_V") + 1).cast("double") / F.col("_V").cast("double"), 6)
    return per_dec.select(
        "decile", "n_terms",
        F.round(F.col("_cum_top").cast("double")
                / F.col("_S").cast("double"), 6).alias("lorenz_share"),
        gini.alias("gini"),
    )


def kneser_ney_logprob(docs: DataFrame, discount: float = 0.75,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995;
    Chen & Goodman 1998 eq. 4.15) — the production-grade smoothing next
    to bigram_logprob's add-alpha: absolute discounting plus a
    CONTINUATION back-off (how many contexts a word completes, not how
    often it occurs), the fix for "san francisco" inflating P(francisco)
    in fresh contexts:

      P(b|a) = max(c(ab) − D, 0)/c(a•) + (D·N1+(a•)/c(a•)) · N1+(•b)/N1+(••)

    with c(a•) the bigram-context mass (Σ_b c(ab)), N1+ the distinct-
    type counters, D = ``discount``. All counters are exact integers
    off one bigram table; per-bigram log-probs round to 9 dp and sum as
    DECIMAL(28,9) (the bigram_logprob determinism recipe).

    Scale: identical shape to bigram_logprob — map-side bigram
    extraction, vocab²-bounded model, one join back, one groupBy(doc).
    The continuation tables are vocab-bounded groupBys of the model.
    """
    tok = docs.select(F.col(id_col).alias("doc_id"),
                      whitespace_tokens(text_col).alias("toks"))
    sz = F.size("toks")
    width = sz - 1
    zipped = F.arrays_zip(F.slice("toks", 1, width), F.slice("toks", 2, width))
    pairs = F.when(
        sz >= 2,
        F.transform(zipped, lambda s: F.struct(s["0"].alias("a"), s["1"].alias("b"))),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    dbg = cache(
        tok.select("doc_id", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.col("p.a").alias("wa"), F.col("p.b").alias("wb"),
            F.concat_ws(" ", "p.a", "p.b").alias("gram"),
        )
    )
    bgc = cache(dbg.groupBy("gram").agg(
        F.first("wa").alias("wa"), F.first("wb").alias("wb"),
        F.count("*").cast("bigint").alias("c12"),
    ))
    fw = bgc.groupBy("wa").agg(
        F.sum("c12").cast("bigint").alias("ctx1"),
        F.count("*").cast("bigint").alias("n1p_fw"),
    )
    bw = bgc.groupBy("wb").agg(F.count("*").cast("bigint").alias("n1p_bw"))
    types = bgc.agg(F.count("*").cast("bigint").alias("ntypes"))
    d = F.lit(float(discount))
    p = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("ctx1")
        + ((d * F.col("n1p_fw")) / F.col("ctx1"))
        * (F.col("n1p_bw") / F.col("ntypes"))
    )
    model = (
        bgc.join(fw, "wa").join(bw, "wb")
        .crossJoin(F.broadcast(types))
        .select("gram",
                F.round(F.log(p), 9).cast("decimal(20,9)").alias("lp"))
    )
    agg = (
        dbg.join(model, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.sum("lp").cast("decimal(28,9)").alias("slp"),
        )
    )
    avg = F.col("slp").cast("double") / F.col("n_bigrams")
    return agg.select(
        "doc_id", "n_bigrams",
        F.round(avg, 6).alias("avg_logprob"),
        F.round(F.exp(-avg), 6).alias("ppl"),
    )


def good_turing_spectrum(docs: DataFrame, max_r: int = 20, n: int = 1,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Good-Turing frequency spectrum (Good 1953): the frequency-of-
    frequencies table N_r with the Turing-adjusted count
    r* = (r+1)·N_{r+1}/N_r and per-class probability mass — the
    smoothing table every count-based LM / coverage estimator reads,
    and the "how much probability mass belongs to UNSEEN events"
    answer (P_0 = N_1/N, the first output row's class mass shifted
    down).

    Raw (not regression-smoothed) Turing estimates — r* is NULL where
    N_{r+1} = 0 (the standard raw-GT gap Simple GT's log-linear fit
    would fill); rows are emitted for r ≤ ``max_r`` plus one rollup
    row (r = -1) carrying the tail (r > max_r) token and type mass so
    the spectrum always accounts for the full corpus.

    Output: r, n_types, mass (= r·N_r), r_star (6 dp), p_class (6 dp,
    class mass / corpus tokens).

    ``n`` selects the event space: 1 = word types, 2/3 = word n-grams
    (the spectrum the LM actually smooths; on a small closed vocabulary
    the unigram spectrum degenerates into the tail row).

    Scale: corpus scan → map-side-combined n-gram counts → groupBy(r)
    over the VOCAB^n-bounded count table → self-join on r+1 over the
    frequency-of-frequencies table (≤ √tokens rows). Nothing after the
    scan exceeds the n-gram type count.
    """
    from semantik_spark.functions.text import whitespace_tokens

    toks = whitespace_tokens(text_col)
    if n == 1:
        grams = toks
    else:
        sz = F.size(toks)
        width = sz - (n - 1)
        zipped = F.arrays_zip(*[F.slice(toks, i + 1, width) for i in range(n)])
        grams = F.when(
            sz >= n,
            F.transform(zipped, lambda s: F.concat_ws(
                " ", *[s[str(i)] for i in range(n)])),
        ).otherwise(F.array().cast("array<string>"))
    tf = (
        docs.select(F.explode(grams).alias("w"))
        .groupBy("w").agg(F.count("*").cast("bigint").alias("r"))
    )
    ff = tf.groupBy("r").agg(
        F.count("*").cast("bigint").alias("n_types"))
    spec = (
        ff.select(F.when(F.col("r") <= max_r, F.col("r"))
                  .otherwise(F.lit(-1)).alias("r"),
                  "n_types", (F.col("r") * F.col("n_types")).alias("m0"))
        .groupBy("r")
        .agg(F.sum("n_types").cast("bigint").alias("n_types"),
             F.sum("m0").cast("bigint").alias("mass"))
    )
    # N_{r+1} joins from the UNBUCKETED spectrum so r* at r = max_r
    # still sees the true next class (the tail rollup is display-only)
    nxt = ff.select((F.col("r") - 1).alias("r"),
                    F.col("n_types").alias("n_next"))
    tot = spec.agg(F.sum("mass").cast("bigint").alias("n_tokens"))
    return (
        spec.join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("int").alias("r"),
            "n_types", "mass",
            F.round(F.when(
                (F.col("r") >= 1) & F.col("n_next").isNotNull(),
                (F.col("r") + 1) * F.col("n_next").cast("double")
                / F.col("n_types")), 6).alias("r_star"),
            F.round(F.col("mass").cast("double") / F.col("n_tokens"), 6)
            .alias("p_class"),
        )
    )


def stupid_backoff_score(train_docs: DataFrame, score_docs: DataFrame,
                         alpha_milli: int = 400,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Stupid Backoff trigram scoring (Brants et al. 2007 — "Large
    Language Models in Machine Translation"): the web-scale LM that
    skips normalization entirely,

      S(w3|w1 w2) = c(w1w2w3)/c(w1w2)            if the trigram is seen
                  = α · c(w2w3)/c(w2)            else if the bigram is
                  = α² · c(w3)/N                 else if the word is
                  = 0                            else (OOV),

    α = ``alpha_milli``/1000 (0.4 in the paper). Counts come from
    ``train_docs``; ``score_docs`` is scored against them — the
    held-out-perplexity shape that actually exercises the backoff
    chain (scoring the training corpus on itself never backs off).

    Per scored doc: n_trigrams, n_tri_hit / n_bi_hit / n_uni_hit /
    n_oov (the backoff-level census), avg_logscore (6 dp, mean log S
    over non-OOV positions, 9-dp DECIMAL accumulation).

    Scale: three map-side-combined count tables from one tokenized
    train pass; scoring is four hash joins on n-gram keys (count
    tables are type-bounded, co-partitionable on the gram key); one
    groupBy(doc). No normalization pass — the paper's point.
    """
    from semantik_spark.functions.text import whitespace_tokens

    def toks(df):
        return df.select(F.col(id_col).alias("doc_id"),
                         whitespace_tokens(text_col).alias("toks"))

    def grams(tok, n, out):
        sz = F.size("toks")
        width = sz - (n - 1)
        zipped = F.arrays_zip(*[F.slice("toks", i + 1, width)
                                for i in range(n)])
        g = F.when(sz >= n, F.transform(
            zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
        )).otherwise(F.array().cast("array<string>"))
        return tok.select("doc_id", F.explode(g).alias(out))

    tr = cache(toks(train_docs))
    c1 = grams(tr, 1, "g").groupBy("g").agg(
        F.count("*").cast("bigint").alias("c1"))
    c2 = grams(tr, 2, "g").groupBy("g").agg(
        F.count("*").cast("bigint").alias("c2"))
    c3 = grams(tr, 3, "g").groupBy("g").agg(
        F.count("*").cast("bigint").alias("c3"))
    tot = c1.agg(F.sum("c1").cast("bigint").alias("n_tokens"))

    sc = toks(score_docs)
    sz = F.size("toks")
    width = sz - 2
    zipped = F.arrays_zip(F.slice("toks", 1, width), F.slice("toks", 2, width),
                          F.slice("toks", 3, width))
    tri = F.when(sz >= 3, F.transform(
        zipped, lambda s: F.struct(s["0"].alias("w1"), s["1"].alias("w2"),
                                   s["2"].alias("w3")))
    ).otherwise(F.array().cast(
        "array<struct<w1:string,w2:string,w3:string>>"))
    pos = sc.select("doc_id", F.explode(tri).alias("t")).select(
        "doc_id",
        F.concat_ws(" ", "t.w1", "t.w2", "t.w3").alias("g3"),
        F.concat_ws(" ", "t.w1", "t.w2").alias("g12"),
        F.concat_ws(" ", "t.w2", "t.w3").alias("g23"),
        F.col("t.w2").alias("w2"), F.col("t.w3").alias("w3"),
    )
    j = (
        pos.join(c3.select(F.col("g").alias("g3"), "c3"), "g3", "left")
        .join(c2.select(F.col("g").alias("g12"),
                        F.col("c2").alias("c12")), "g12", "left")
        .join(c2.select(F.col("g").alias("g23"),
                        F.col("c2").alias("c23")), "g23", "left")
        .join(c1.select(F.col("g").alias("w2"),
                        F.col("c1").alias("cw2")), "w2", "left")
        .join(c1.select(F.col("g").alias("w3"),
                        F.col("c1").alias("cw3")), "w3", "left")
        .crossJoin(F.broadcast(tot))
    )
    a = F.lit(alpha_milli).cast("double") / 1000.0
    lvl = (
        F.when(F.col("c3").isNotNull(), F.lit(3))
        .when(F.col("c23").isNotNull(), F.lit(2))
        .when(F.col("cw3").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    s = (
        F.when(lvl == 3, F.col("c3").cast("double") / F.col("c12"))
        .when(lvl == 2, a * (F.col("c23").cast("double") / F.col("cw2")))
        .when(lvl == 1, a * a * (F.col("cw3").cast("double")
                                 / F.col("n_tokens")))
    )
    scored = j.select(
        "doc_id", lvl.alias("lvl"),
        F.when(lvl > 0, F.round(F.log(s), 9).cast("decimal(20,9)"))
        .alias("ls"))
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_trigrams"),
        F.sum(F.when(F.col("lvl") == 3, 1).otherwise(0)).cast("int")
        .alias("n_tri_hit"),
        F.sum(F.when(F.col("lvl") == 2, 1).otherwise(0)).cast("int")
        .alias("n_bi_hit"),
        F.sum(F.when(F.col("lvl") == 1, 1).otherwise(0)).cast("int")
        .alias("n_uni_hit"),
        F.sum(F.when(F.col("lvl") == 0, 1).otherwise(0)).cast("int")
        .alias("n_oov"),
        F.sum("ls").cast("decimal(28,9)").alias("sls"),
    )
    return agg.select(
        "doc_id", "n_trigrams", "n_tri_hit", "n_bi_hit", "n_uni_hit",
        "n_oov",
        F.round(F.col("sls").cast("double")
                / (F.col("n_trigrams") - F.col("n_oov")), 6)
        .alias("avg_logscore"),
    )


def heaps_law(docs: DataFrame, buckets: int = 32, n: int = 1,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heaps'-law vocabulary growth fit (Heaps 1978): V(n) ≈ K·n^β over
    cumulative corpus checkpoints — the dedup/quality telltale next to
    zipf_fit: natural text grows vocabulary with β ≈ 0.4–0.6; a flat
    curve means boilerplate/duplication, a near-linear one means noise
    (random strings never repeat).

    The corpus is ordered by doc_id and cut into ``buckets`` equal
    doc-id ranges; per checkpoint the cumulative token count n and
    cumulative distinct vocabulary V (a term counts at its FIRST
    occurrence bucket — min doc_id per term, no rescans). β and log K
    come from regr_slope/regr_intercept of ln V on ln n over the
    checkpoint table (the zipf_fit discipline: identical SQL aggregate
    definitions in both engines).

    Output: one row per non-empty checkpoint — bucket, n_tokens_cum,
    vocab_cum, plus the repeated fit columns heaps_beta, heaps_k,
    r2 (6 dp).

    ``n`` picks the vocabulary space: 1 = word types, 2/3 = word
    n-gram types (on a small closed vocabulary the unigram curve
    saturates immediately and the fit degenerates — n-grams keep
    growing and are the standard Heaps generalization).

    Scale: one tokenize pass → per-doc token counts (map-only) and a
    min(doc_id)-per-term groupBy (type-bounded, map-side combined);
    the cumulative window and the regression run over the
    BUCKETS-bounded checkpoint table only.
    """
    from semantik_spark.functions.text import whitespace_tokens

    base = whitespace_tokens(text_col)
    if n > 1:
        sz = F.size(base)
        width = sz - (n - 1)
        zipped = F.arrays_zip(*[F.slice(base, i + 1, width)
                                for i in range(n)])
        base = F.when(sz >= n, F.transform(
            zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
        )).otherwise(F.array().cast("array<string>"))
    tok = cache(docs.select(F.col(id_col).alias("doc_id"),
                            base.alias("toks")))
    per_doc = tok.select("doc_id", F.size("toks").cast("bigint").alias("nt"))
    bounds = per_doc.agg(F.min("doc_id").alias("lo"),
                         F.max("doc_id").alias("hi"))

    def bucket_of(c):
        return F.floor(
            (c - F.col("lo")).cast("double") * buckets
            / (F.col("hi") - F.col("lo") + 1)).cast("int")

    btok = (
        per_doc.crossJoin(F.broadcast(bounds))
        .groupBy(bucket_of(F.col("doc_id")).alias("bucket"))
        .agg(F.sum("nt").cast("bigint").alias("toks_in"))
    )
    first = (
        tok.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("w").agg(F.min("doc_id").alias("fdoc"))
        .crossJoin(F.broadcast(bounds))
        .groupBy(bucket_of(F.col("fdoc")).alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("n_new"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    series = (
        btok.join(first, "bucket", "left")
        .na.fill({"n_new": 0})
        .select("bucket",
                F.sum("toks_in").over(w).alias("n_tokens_cum"),
                F.sum("n_new").over(w).alias("vocab_cum"))
        .where(F.col("n_tokens_cum") > 0)
    )
    fit = series.agg(
        F.round(F.expr("regr_slope(ln(vocab_cum), ln(n_tokens_cum))"), 6)
        .alias("heaps_beta"),
        F.round(F.expr("exp(regr_intercept(ln(vocab_cum), ln(n_tokens_cum)))"), 6)
        .alias("heaps_k"),
        F.round(F.expr("regr_r2(ln(vocab_cum), ln(n_tokens_cum))"), 6)
        .alias("r2"),
    )
    return series.crossJoin(F.broadcast(fit))


def burrows_delta(docs: DataFrame, n_words: int = 30, probes: int = 4,
                  top_k: int = 5, probe_mod: int = 125,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Burrows' Delta authorship attribution (Burrows 2002; Evert et
    al. 2017): distance between documents in z-scored relative-
    frequency space over the ``n_words`` most frequent corpus words
    (the function-word profile that survives topic shifts) —

      Delta(d, p) = mean_w |z_d(w) − z_p(w)|,
      z_d(w) = (f_d(w) − μ_w) / σ_w

    — the stylometric "which docs share a source/author/template"
    probe. Each probe document (doc_id ≡ 0 mod ``probe_mod``, capped
    at ``probes``) reports its ``top_k`` nearest non-self documents.

    Determinism: f is an exact count ratio rounded at 9 dp into
    DECIMAL; μ and σ come from DECIMAL moment sums (population σ, the
    trend_ols recipe); each |Δz| rounds at 9 dp and the per-pair sum
    accumulates in DECIMAL, so ranking never depends on float
    summation order. Zero-variance words drop out (z undefined).

    Scale: one token-count pass → global top-N words (TakeOrdered,
    broadcast) → DENSE doc×N grid (corpus-linear map with a broadcast
    join — absent words matter: their z is −μ/σ) → one groupBy(w) for
    moments → probe×corpus scoring with the probe side broadcast.
    Nothing quadratic in the corpus.
    """
    from semantik_spark.functions.text import whitespace_tokens

    tok = cache(docs.select(F.col(id_col).alias("doc_id"),
                            whitespace_tokens(text_col).alias("toks")))
    lens = tok.select("doc_id", F.size("toks").cast("bigint").alias("dl")) \
        .where(F.col("dl") > 0)
    # cnt feeds the top-N word selection AND the dense grid; dense
    # feeds the moment aggregate AND the z transform, and z feeds the
    # probe slice AND the pair scoring — without persisting the two
    # shared tables the whole upstream chain re-ran per consumer
    # (measured at sf0.1: 43 jobs / 13.5 MB shuffle before, 22 jobs /
    # 2.0 MB after; wall ~flat locally, corpus-linear saving at scale).
    # Both are exact integer/DECIMAL tables: caching cannot change a
    # value (r13 optimization pass).
    cnt = cache(
        tok.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    top = (
        cnt.groupBy("w").agg(F.sum("c").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("w")).limit(n_words)
        .select("w")
    )
    dense = cache(
        lens.crossJoin(F.broadcast(top))
        .join(cnt, ["doc_id", "w"], "left")
        .na.fill({"c": 0})
        .select("doc_id", "w",
                F.round(F.col("c").cast("double") / F.col("dl"), 9)
                .cast("decimal(15,9)").alias("f"))
    )
    mom = dense.groupBy("w").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("f").cast("decimal(28,9)").alias("sf"),
        F.sum(F.col("f") * F.col("f")).cast("decimal(38,18)").alias("sff"),
    )
    # n² widens to DECIMAL(38,0) before the product (the ks_test_2samp
    # 100 TB guard): n is the doc count, and doc-count² overflows BIGINT
    # past ~3e9 docs (ANSI error — the job dies — or a silent legacy wrap); same double after the cast
    var = (F.col("n").cast("double") * F.col("sff").cast("double")
           - F.col("sf").cast("double") * F.col("sf").cast("double")) \
        / (F.col("n").cast("decimal(38,0)")
           * F.col("n").cast("decimal(38,0)")).cast("double")
    stats = (
        mom.select("w",
                   (F.col("sf").cast("double") / F.col("n")).alias("mu"),
                   F.sqrt(var).alias("sigma"))
        .where(F.col("sigma") > 0)
    )
    z = (
        dense.join(F.broadcast(stats), "w")
        .select("doc_id", "w",
                ((F.col("f").cast("double") - F.col("mu"))
                 / F.col("sigma")).alias("z"))
    )
    probe_ids = (
        lens.where(F.col("doc_id") % probe_mod == 0)
        .orderBy("doc_id").limit(probes).select("doc_id")
    )
    pz = (
        z.join(F.broadcast(probe_ids), "doc_id")
        .select(F.col("doc_id").alias("probe_id"), "w",
                F.col("z").alias("zp"))
    )
    pair = (
        z.join(F.broadcast(pz), "w")
        .where(F.col("doc_id") != F.col("probe_id"))
        .groupBy("probe_id", "doc_id")
        .agg(F.sum(F.round(F.abs(F.col("z") - F.col("zp")), 9)
                   .cast("decimal(20,9)")).cast("decimal(28,9)").alias("sd"),
             F.count("*").cast("int").alias("nw"))
    )
    wr = Window.partitionBy("probe_id").orderBy(
        F.asc("delta"), F.asc("doc_id"))
    return (
        pair.select("probe_id", "doc_id",
                    F.round(F.col("sd").cast("double") / F.col("nw"), 6)
                    .alias("delta"))
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= top_k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def collocations_llr(docs: DataFrame, min_count: int = 5, top_k: int = 50,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Collocation extraction by Dunning's log-likelihood ratio
    (Dunning 1993) — the measure that fixes PMI's rare-pair mania
    (PMI maxes out on hapax pairs; G² weighs evidence MASS, so
    "strongly associated AND well-attested" wins):

      G² = 2·Σ_cells O·ln(O/E) over the 2×2 bigram table
         = 2·(Σ xlx(k) − Σ xlx(rows) − Σ xlx(cols) + xlx(N))

    with k11 = c(ab), margins from first-/second-position counts and
    N the corpus bigram total. Every xlx(x) = x·ln x term is computed
    from an exact integer, rounded at 6 dp and summed as DECIMAL —
    the fixed 9-term sum is order-free on both engines.

    Output: word_a, word_b, n_pair, n_a (first-position), n_b
    (second-position), llr (4 dp), top_k by (llr DESC, word_a,
    word_b), pairs under ``min_count`` dropped.

    Scale: the collocations() shape — bigram + positional-margin
    groupBys (map-side combined, vocab-bounded outputs), broadcast
    total, TakeOrdered top-k.
    """
    from semantik_spark.functions.text import whitespace_tokens

    tok = docs.select(whitespace_tokens(text_col).alias("toks"))
    sz = F.size("toks")
    width = sz - 1
    zipped = F.arrays_zip(F.slice("toks", 1, width), F.slice("toks", 2, width))
    prs = F.when(sz >= 2, F.transform(
        zipped, lambda s: F.struct(s["0"].alias("a"), s["1"].alias("b")))
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    bg = tok.select(F.explode(prs).alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    pair = bg.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("n_pair"))
    fw = bg.groupBy("a").agg(F.count("*").cast("bigint").alias("n_a"))
    bw = bg.groupBy("b").agg(F.count("*").cast("bigint").alias("n_b"))
    tot = bg.agg(F.count("*").cast("bigint").alias("nn"))
    j = (
        pair.where(F.col("n_pair") >= min_count)
        .join(fw, "a").join(bw, "b")
        .crossJoin(F.broadcast(tot))
    )
    k11 = F.col("n_pair")
    k12 = F.col("n_a") - k11
    k21 = F.col("n_b") - k11
    k22 = F.col("nn") - F.col("n_a") - F.col("n_b") + k11

    def xlx(c):
        return F.when(c > 0,
                      F.round(c.cast("double") * F.log(c.cast("double")), 6)
                      ).otherwise(F.lit(0.0)).cast("decimal(24,6)")

    # the ×2 and the terminal 4-dp round BOTH stay in DECIMAL: the
    # 6-dp term sum can land exactly on a 4-dp half-point (measured:
    # sum 2.375275 → g2 4.750550 at sf0.001), where a double-typed
    # round diverges between engines (Spark rounds the shortest
    # decimal rendering, DuckDB the binary value) — decimal HALF_UP is
    # exact on both
    g2 = (
        (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22)
         - xlx(F.col("n_a")) - xlx(F.col("nn") - F.col("n_a"))
         - xlx(F.col("n_b")) - xlx(F.col("nn") - F.col("n_b"))
         + xlx(F.col("nn"))).cast("decimal(32,6)") * 2)
    scored = j.select(
        F.col("a").alias("word_a"), F.col("b").alias("word_b"),
        "n_pair", "n_a", "n_b",
        F.round(g2, 4).cast("double").alias("llr"))
    return scored.orderBy(F.desc("llr"), F.asc("word_a"),
                          F.asc("word_b")).limit(top_k)
