"""Text analysis over a documents table: language ID, quality scoring,
token counting, document fingerprinting.

All hot-path columns are built-in pyspark.sql.functions expressions
(JVM-side, whole-stage codegen); the only pandas UDF is the polynomial
rolling-hash fingerprint, which has no built-in equivalent. Every operator
takes a DataFrame with a text column and returns columns aliased for the
DuckDB oracle contract in __spark_entry__.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# whitespace tokenization + a BPE-ish word/punct splitter
WS_SPLIT = r"\s+"
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "was",
           "for", "on", "with", "as", "at", "by", "this", "be", "are", "or"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den",
           "nicht", "ein", "eine", "auf", "für", "im", "dem", "des", "als"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "dans", "que",
           "pour", "qui", "sur", "pas", "au", "des", "par", "du"],
    "es": ["el", "la", "los", "las", "y", "de", "un", "una", "es", "en",
           "que", "por", "con", "para", "del", "se", "no", "su"],
}


def tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens, empty strings removed; null text -> []
    (otherwise NULL token counts leak into `least`-based scores, which skip
    nulls and would give null documents a perfect quality score)."""
    return F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), WS_SPLIT), lambda x: x != ""
    )


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of word/number/punct tokens under the BPE-ish regex."""
    return F.coalesce(F.regexp_count(text, F.lit(BPE_ISH)), F.lit(0))


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang`` (with multiplicity)."""
    sw = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda x: x.isin(*sw)))


def language_id(text: Column) -> Column:
    """n-gram/stopword-heuristic language ID over {en,de,fr,es}; 'und' if no
    stopword of any language occurs. Ties break by language order above
    (deterministic)."""
    scores = [
        F.struct(stopword_hits(text, lang).alias("hits"),
                 F.lit(-i).alias("prio"), F.lit(lang).alias("lang"))
        for i, lang in enumerate(STOPWORDS)
    ]
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1] from length / punctuation / stopword ratios.

    score = 0.4*len_score + 0.3*stopword_ratio_score + 0.3*(1 - punct_ratio)
      len_score      = min(n_tokens/100, 1)
      stopword_ratio = en-stopword hits / n_tokens   (capped at 0.5, scaled)
      punct_ratio    = punctuation chars / chars     (capped at 0.5, scaled)
    Pure arithmetic on counts -> identical in ANSI SQL for the oracle.
    """
    n_tok = token_count(text)
    n_chars = F.length(F.coalesce(text, F.lit("")))
    punct = F.coalesce(F.regexp_count(text, F.lit(r"[^\w\s]")), F.lit(0))
    sw = stopword_hits(text, "en")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    sw_score = F.least(sw / F.greatest(n_tok, F.lit(1)) / F.lit(0.5), F.lit(1.0))
    punct_ratio = F.least(punct / F.greatest(n_chars, F.lit(1)) / F.lit(0.5), F.lit(1.0))
    return (F.lit(0.4) * len_score + F.lit(0.3) * sw_score
            + F.lit(0.3) * (F.lit(1.0) - punct_ratio))


# -- fingerprinting ---------------------------------------------------------

_FP_BASE = np.uint64(1000003)
_FP_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _poly_hash(s: str) -> int:
    """Polynomial rolling hash of the raw text, mod 2^64 (deterministic,
    locale-free). Signed int64 for parquet/Spark friendliness."""
    h = np.uint64(0)
    with np.errstate(over="ignore"):
        for b in s.encode("utf-8"):
            h = h * _FP_BASE + np.uint64(b)
    return int(h.astype(np.int64))


@F.pandas_udf(T.LongType())
def rolling_fingerprint(text: pd.Series) -> pd.Series:
    """Arrow-vectorized batch of polynomial rolling hashes (per-doc loop is
    over bytes — no built-in equivalent; batches amortize the Python cost)."""
    return text.fillna("").map(_poly_hash)


def fingerprint_exact(text: Column) -> Column:
    """md5 of the normalized text — SQL-parity fingerprint (DuckDB md5)."""
    return F.md5(F.regexp_replace(F.lower(text), r"\s+", " "))


# -- vocabulary / TF-IDF ------------------------------------------------------


def doc_terms(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Per-document term frequencies: (id, term, tf).

    explode is narrow; the (doc, term) groupBy shuffles one row per
    DISTINCT doc-term pair (map-side partial aggregation collapses
    repeated tokens before the exchange), so shuffle volume is bounded by
    per-doc vocabulary, not raw token count.
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_stats(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: (term, doc_freq, tf_total).

    Aggregates the doc-term table by term. Stopword-class terms are the
    power-law head here, but partial aggregation means each reducer key
    receives at most one partial row per map partition — no salting
    needed for a pure count/sum (the same argument as the PageRank
    contribution aggregate, SURVEY §2.4 A2).
    """
    return (
        doc_terms(docs, id_col, text_col)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"), F.sum("tf").alias("tf_total"))
    )


def vocab_top_terms(docs: DataFrame, k: int = 100, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Top-``k`` vocabulary terms by document frequency.

    Ordering is exact-integer (doc_freq desc, tf_total desc, term asc) so
    top-k membership is engine-independent; the global sort is k-limited
    (TakeOrdered — only k rows per partition reach the driver-side merge).
    """
    return (
        term_stats(docs, id_col, text_col)
        .orderBy(F.desc("doc_freq"), F.desc("tf_total"), F.asc("term"))
        .limit(k)
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document top-``k`` distinguishing terms with tf-idf features.

    Returns (doc_id, term, tf, doc_freq, tfidf) where
    tfidf = tf · ln(n_docs / doc_freq). Ranking follows the repo's
    determinism rule (operators/linkpred.py): order by EXACT INTEGERS
    (tf desc, doc_freq asc, term asc) — the float tfidf rides along as a
    feature — so top-k membership never depends on engine libm ULPs.

    Plan shape: the doc-term tf table is materialized ONCE
    (localCheckpoint) and reused by both sides — the doc_freq aggregate
    and the feature join (shuffle-hash on the term-vocabulary side) —
    then one window partitioned by doc_id ranks. n_docs is a driver
    scalar (one count job), like the graph's n_vertices.
    """
    from pyspark.sql import Window

    # count_distinct folds into one aggregate job (partial distinct per
    # partition + merge) — no materialized distinct-id exchange
    n_docs = int(docs.agg(F.count_distinct(F.col(id_col))).first()[0])
    dt = doc_terms(docs, id_col, text_col).localCheckpoint(eager=True)
    stats = dt.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    scored = dt.join(stats.hint("shuffle_hash"), "term").select(
        "doc_id", "term", "tf", "doc_freq",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("doc_freq"))).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("doc_freq"), F.asc("term"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k).drop("rk"))


def analyze_documents(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """One-pass document profile: all text metrics as columns."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        language_id(t).alias("lang_pred"),
        quality_score(t).alias("quality"),
        fingerprint_exact(t).alias("fp_md5"),
        rolling_fingerprint(t).alias("fp_rolling"),
    )


# -- PII redaction ------------------------------------------------------------
#
# Training-corpus scrubbing pass: mask emails, phone numbers, and IPv4
# addresses before a document reaches a training shard. Patterns avoid
# backreferences and lookaround so the same regex runs identically under
# Java regex (Spark, whole-stage codegen) and RE2 (the DuckDB oracle) —
# both use leftmost-first greedy matching for these constructs. Absent
# from the reference (a rank engine); part of the LLM-pipeline surface.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# international-format numbers: +CC NNN-NNN-NNNN (separators - or space);
# matched BEFORE the IP pattern so dotted quads never eat a phone suffix
PII_PHONE = r"\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_RULES = (("email", PII_EMAIL, "<EMAIL>"),
              ("phone", PII_PHONE, "<PHONE>"),
              ("ip", PII_IPV4, "<IP>"))


def pii_scrub(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Redact PII spans in ``text_col``; count each kind per document.

    Returns (id, text_clean, n_email, n_phone, n_ip, n_pii). One narrow
    projection, zero shuffles, zero Python — every rule is a JVM
    ``regexp_count`` + chained ``regexp_replace``, so the pass pipelines
    inside the parquet scan stage at any corpus size. Rules apply in a
    fixed order (email, phone, ip) so overlapping matches resolve
    deterministically.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = [F.coalesce(F.regexp_count(t, F.lit(pat)), F.lit(0))
              .alias(f"n_{kind}") for kind, pat, _ in _PII_RULES]
    clean = t
    for _, pat, mask in _PII_RULES:
        clean = F.regexp_replace(clean, pat, mask)
    out = docs.select(F.col(id_col), clean.alias("text_clean"), *counts)
    total = sum((F.col(f"n_{kind}") for kind, _, _ in _PII_RULES),
                start=F.lit(0))
    return out.withColumn("n_pii", total.cast("int"))


# -- repetition filter (Gopher-style) ----------------------------------------


def duplicate_ngram_fraction(text: Column, n: int, *,
                             toks: Column | None = None) -> Column:
    """Fraction of token n-grams that are repeats of an earlier n-gram:
    1 - distinct/total (0.0 for docs shorter than n tokens). The in-doc
    repetition signal used by corpus quality filters (Rae et al., Gopher,
    arXiv:2112.11446 §A.1.2 — count-based variant). All JVM array
    expressions: n-grams come from one ``transform`` over an index
    ``sequence``, dedup via ``array_distinct`` — no shuffle, no UDF.

    ``toks``: optional pre-projected token-array ATTRIBUTE. The transform
    lambda reads its n-gram members via ``element_at(toks, ·)``, and a raw
    ``tokens(text)`` subtree there is re-evaluated PER ARRAY ELEMENT
    (higher-order functions run interpreted, no common-subexpression
    elimination) — the regex split executes ~n_tokens times per row,
    measured ~10x on bench docs. Callers that can, project the token
    array once and pass the column."""
    tk = tokens(text) if toks is None else toks
    total = F.size(tk) - F.lit(n - 1)
    idx = F.sequence(F.lit(0), F.size(tk) - F.lit(n))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j + 1)
                                          for j in range(n)]))
    frac = (F.lit(1.0)
            - F.size(F.array_distinct(grams)) / total.cast("double"))
    return F.when(total <= 0, F.lit(0.0)).otherwise(frac)


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_dup_2gram: float = 0.4) -> DataFrame:
    """Per-document repetition profile + keep/drop verdict.

    (id, n_tokens, dup_1gram, dup_2gram, dup_3gram, keep) where dup_n is
    :func:`duplicate_ngram_fraction` and ``keep`` applies the 2-gram
    threshold (Gopher drops docs whose duplicate 2-gram share is high).
    Narrow two-projection mapper — tokens materialize once per row (see
    duplicate_ngram_fraction: a shared subtree inside the transform lambda
    would re-split per element; CollapseProject keeps the non-cheap alias
    un-inlined) — scales as a mapper over the corpus."""
    t = F.col(text_col)
    tk = F.col("__tk")
    return docs.select(
        F.col(id_col), tokens(t).alias("__tk")
    ).select(
        F.col(id_col),
        F.size(tk).alias("n_tokens"),
        *[F.round(duplicate_ngram_fraction(t, n, toks=tk), 6)
          .alias(f"dup_{n}gram") for n in (1, 2, 3)],
    ).withColumn("keep", F.col("dup_2gram") <= F.lit(max_dup_2gram))


def mean_word_length(text: Column, *, toks: Column | None = None) -> Column:
    """Mean token length in characters (0.0 for empty docs) — one
    ``aggregate`` over the token array, no explode. ``toks``: optional
    pre-projected token array (duplicate_ngram_fraction discipline)."""
    tk = tokens(text) if toks is None else toks
    total = F.aggregate(tk, F.lit(0),
                        lambda acc, x: acc + F.length(x))
    return F.when(F.size(tk) <= 0, F.lit(0.0)).otherwise(
        total / F.size(tk).cast("double"))


def corpus_filter(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  min_tokens: int = 50, max_tokens: int = 100_000,
                  min_mean_word_len: float = 3.0,
                  max_mean_word_len: float = 10.0,
                  min_stopword_hits: int = 2,
                  max_dup_2gram: float = 0.4) -> DataFrame:
    """Gopher/C4-style corpus quality-filter cascade as ONE narrow JVM
    projection (Rae et al., Gopher, arXiv:2112.11446 §A.1.1; Raffel et
    al., C4, arXiv:1910.10683 §2.2): token-count bounds, mean-word-length
    band, minimum English stop-word evidence, and the duplicate-2-gram
    repetition gate — per-rule verdicts plus the conjunction.

    Returns ``(id, n_tokens, mean_word_len, stop_hits, dup_2gram,
    keep_length, keep_wordlen, keep_stopwords, keep_repetition, keep)``.

    Scale shape: a pure per-row mapper over built-in expressions — no
    shuffle, no UDF; the token array materializes once per row (the
    duplicate_ngram_fraction lambda re-splits per element otherwise);
    rules compare the ROUNDED statistics (6 dp) so the verdicts are
    reproducible across engines and partitionings.
    """
    t = F.col(text_col)
    tk = F.col("__tk")
    sw_list = STOPWORDS["en"]
    out = docs.select(
        F.col(id_col), tokens(t).alias("__tk")
    ).select(
        F.col(id_col),
        F.size(tk).alias("n_tokens"),
        F.round(mean_word_length(t, toks=tk), 6).alias("mean_word_len"),
        F.size(F.filter(tk, lambda x: x.isin(*sw_list))).alias("stop_hits"),
        F.round(duplicate_ngram_fraction(t, 2, toks=tk), 6).alias("dup_2gram"),
    ).select(
        "*",
        ((F.col("n_tokens") >= min_tokens)
         & (F.col("n_tokens") <= max_tokens)).alias("keep_length"),
        ((F.col("mean_word_len") >= min_mean_word_len)
         & (F.col("mean_word_len") <= max_mean_word_len)
         ).alias("keep_wordlen"),
        (F.col("stop_hits") >= min_stopword_hits).alias("keep_stopwords"),
        (F.col("dup_2gram") <= max_dup_2gram).alias("keep_repetition"),
    )
    return out.select(
        "*",
        (F.col("keep_length") & F.col("keep_wordlen")
         & F.col("keep_stopwords") & F.col("keep_repetition")).alias("keep"))


def doc_bigrams(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Explode each document into its token bigrams: ``(id, prev, cur)``.
    Tokens materialize once per row before the higher-order zip (the
    duplicate_ngram_fraction discipline)."""
    tk = F.col("__tk")
    pairs = F.zip_with(F.slice(tk, 1, F.greatest(F.size(tk) - 1, F.lit(0))),
                       F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
                       lambda p, c: F.struct(p.alias("prev"), c.alias("cur")))
    return (docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__tk"))
            .select(F.col(id_col), F.explode(pairs).alias("bg"))
            .select(id_col, "bg.prev", "bg.cur"))


def lm_perplexity(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020 use
    KenLM perplexity as the third filter stage): train a bigram LM on the
    corpus ITSELF — p(cur|prev) = C(prev,cur) / C(prev,·), no smoothing
    needed because every scored bigram is in the training counts — and
    score each document with its perplexity ``2^(-mean log2 p)``. Low =
    stereotypical corpus text, high = outlier (gibberish or off-domain);
    filters usually drop both tails.

    Returns ``(id, n_bigrams, ppl)`` (ppl = 0.0 for docs shorter than two
    tokens). Scale shape: two map-side-combinable count aggregates (the
    LM), then one join of the doc-bigram table against the LM keyed by
    (prev, cur) and one by prev — hot bigrams ("of the") are single join
    keys, which AQE skew-join splits; no windows, no collect.
    """
    bg = doc_bigrams(docs, id_col=id_col, text_col=text_col)
    lm = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = bg.groupBy("prev").agg(F.count(F.lit(1)).alias("c_ctx"))
    scored = (bg.join(lm, ["prev", "cur"]).join(ctx, ["prev"])
              .groupBy(id_col).agg(
                  F.count(F.lit(1)).alias("n_bigrams"),
                  F.avg(-F.log2(F.col("c_bg") / F.col("c_ctx")))
                  .alias("h")))
    return (docs.select(F.col(id_col))
            .join(scored, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                F.round(F.coalesce(F.pow(F.lit(2.0), F.col("h")),
                                   F.lit(0.0)), 6).alias("ppl")))


def kn_perplexity(docs: DataFrame, target: DataFrame | None = None,
                  discount: float = 0.75, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney, ICASSP
    1995; Chen & Goodman 1998 §2.7) — the smoothing family KenLM ships,
    i.e. the ACTUAL CCNet stage-3 shape: train the LM on a clean TARGET
    corpus and score a raw corpus against it. The unsmoothed
    :func:`lm_perplexity` can only score its own training text (an
    unseen bigram has p = 0); KN assigns every token mass:

        p(w|v) = max(c(v,w) - d, 0)/c(v.) + lam(v) * p_cont(w)
        lam(v) = d * N1+(v.)/c(v.)          (types after v)
        p_cont(w) = (N1+(.w) + 1)/(D + V + 1)

    where D = distinct training bigrams and V = distinct continuation
    types; the +1s are the KenLM-style ``<unk>`` reserve, so
    out-of-vocabulary continuations score the floor 1/(D+V+1) instead of
    zero, and an unseen CONTEXT backs off fully to p_cont (lam = 1).

    ``target=None`` trains on ``docs`` itself. Returns
    ``(id, n_bigrams, ppl)`` with ppl = 2^(-mean log2 p), 0.0 for docs
    under two tokens. Raises ValueError if ``target`` has no bigrams.

    Scale shape: the LM is three vocab-bounded aggregates of the TARGET
    bigram table (map-side combinable: c(v,w); per-context totals + types;
    per-continuation types) plus two 1-row scalars (D, V) folded in as
    literals via one tiny collect (bounded-scalar discipline). Scoring is
    the lm_perplexity join shape — doc bigrams LEFT-joined to the three
    tables keyed by (prev,cur)/prev/cur, hot keys split by AQE skew-join —
    then one per-doc average; no windows, no per-row Python.
    """
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0, 1): {discount}")
    d = float(discount)
    tgt = docs if target is None else target
    tbg = doc_bigrams(tgt, id_col=id_col, text_col=text_col)
    lm = tbg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = lm.groupBy("prev").agg(
        F.sum("c_bg").alias("c_ctx"),
        F.count(F.lit(1)).alias("n1p_fwd"))
    cont = lm.groupBy("cur").agg(F.count(F.lit(1)).alias("n1p_back"))
    totals = lm.agg(F.count(F.lit(1)).alias("bigram_types"),
                    F.countDistinct("cur").alias("cont_types")).collect()[0]
    if target is not None and not totals["bigram_types"]:
        # an empty LM would give every bigram p_cont = 1, i.e. ppl = 1.0:
        # a "perfect" score for every document (self-trained, no doc has
        # bigrams and all get the 0.0 sentinel)
        raise ValueError("kn_perplexity: the target corpus has no bigrams")
    denom = float(totals["bigram_types"] + totals["cont_types"] + 1)

    # self-trained call: the scoring bigram table IS the training one —
    # reuse the plan instead of tokenizing the corpus a second E-scale pass
    bg = tbg if target is None else doc_bigrams(docs, id_col=id_col,
                                                text_col=text_col)
    p_cont = (F.coalesce(F.col("n1p_back"), F.lit(0)) + 1) / F.lit(denom)
    lam = F.lit(d) * F.col("n1p_fwd") / F.col("c_ctx")
    p_seen_ctx = (F.greatest(F.coalesce(F.col("c_bg"), F.lit(0)) - F.lit(d),
                             F.lit(0.0)) / F.col("c_ctx")
                  + lam * p_cont)
    p = F.when(F.col("c_ctx").isNotNull(), p_seen_ctx).otherwise(p_cont)
    scored = (bg.join(lm, ["prev", "cur"], "left")
              .join(ctx, ["prev"], "left")
              .join(cont, ["cur"], "left")
              .groupBy(id_col).agg(
                  F.count(F.lit(1)).alias("n_bigrams"),
                  F.avg(-F.log2(p)).alias("h")))
    return (docs.select(F.col(id_col))
            .join(scored, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                F.round(F.coalesce(F.pow(F.lit(2.0), F.col("h")),
                                   F.lit(0.0)), 6).alias("ppl")))


def sb_perplexity(docs: DataFrame, target: DataFrame | None = None,
                  alpha: float = 0.4, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Stupid Backoff bigram scoring (Brants, Popat, Xu, Och, Dean,
    "Large Language Models in Machine Translation", EMNLP 2007 — the
    smoothing built FOR distributed counting: no discounts, no
    normalization, just raw counts and a constant backoff):

        S(w|v) = c(v,w) / c(v)            if the bigram was seen
               = alpha * u(w)             otherwise,

    with c(.) raw TARGET-corpus token/bigram counts and u(w) the unigram
    relative frequency carrying the same +1 ``<unk>`` reserve as
    :func:`kn_perplexity` (u(w) = (c(w)+1)/(N+V+1)), so out-of-vocabulary
    tokens score the floor alpha/(N+V+1) instead of zero. S is a score,
    not a probability (Brants SS3: it does not normalize — the point is
    that it needs ONE counting pass and no context statistics beyond the
    counts themselves); the returned ``ppl`` = 2^(-mean log2 S) is the
    same filter-ranking transform the other LM stages use. Unseen
    CONTEXT v (c(v) = 0) also backs off, per the paper.

    ``target=None`` trains on ``docs``. Returns ``(id, n_bigrams, ppl)``
    with ppl rounded to 6 dp; 0.0 for docs under two tokens.

    Scale shape — the reason this smoothing exists: the LM is exactly
    TWO map-side-combinable count aggregates of the target corpus
    (unigrams; bigrams) plus two scalars, with none of KN's
    continuation-type statistics; scoring is the lm_perplexity LEFT-join
    shape. The 1.8T-token LM in the paper was built with this shape.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1]: {alpha}")
    tgt = docs if target is None else target
    ttok = tgt.select(F.explode(tokens(F.col(text_col))).alias("w"))
    uni = ttok.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    tot = uni.agg(F.coalesce(F.sum("c_w"), F.lit(0)).alias("n_tokens"),
                  F.count(F.lit(1)).alias("v_types")).collect()[0]
    denom = float(tot["n_tokens"] + tot["v_types"] + 1)
    tbg = doc_bigrams(tgt, id_col=id_col, text_col=text_col)
    lm = tbg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_bg"))

    bg = (tbg if target is None
          else doc_bigrams(docs, id_col=id_col, text_col=text_col))
    u_w = (F.coalesce(F.col("c_w"), F.lit(0)) + 1) / F.lit(denom)
    s_score = F.when(
        F.col("c_bg").isNotNull() & F.col("c_ctx").isNotNull(),
        F.col("c_bg") / F.col("c_ctx")
    ).otherwise(F.lit(alpha) * u_w)
    scored = (bg
              .join(lm, ["prev", "cur"], "left")
              .join(uni.select(F.col("w").alias("prev"),
                               F.col("c_w").alias("c_ctx")), ["prev"], "left")
              .join(uni.select(F.col("w").alias("cur"), "c_w"),
                    ["cur"], "left")
              .groupBy(id_col).agg(
                  F.count(F.lit(1)).alias("n_bigrams"),
                  F.avg(-F.log2(s_score)).alias("h")))
    return (docs.select(F.col(id_col))
            .join(scored, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                F.round(F.coalesce(F.pow(F.lit(2.0), F.col("h")),
                                   F.lit(0.0)), 6).alias("ppl")))


def pmi_collocations(docs: DataFrame, min_count: int = 2, k: int = 100,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Collocation mining by pointwise mutual information (Church & Hanks,
    "Word Association Norms, Mutual Information, and Lexicography", CL
    1990) — the corpus statistic word2vec-style embedding prep and phrase
    detection (Mikolov et al. 2013 §4) are built on. Event space is the
    corpus bigram table: with N total bigrams, c_prev(a) occurrences of
    ``a`` in first position and c_cur(b) of ``b`` in second,

        pmi(a, b) = log2( n(a, b) * N / (c_prev(a) * c_cur(b)) )

    Returns the top-``k`` pairs with ``n >= min_count`` as
    ``(prev, cur, n_pair, pmi)``, ordered by (pmi desc, prev, cur) —
    rounded pmi in the sort so the k-boundary is the same total order in
    any engine.

    Scale shape: the corpus is scanned and shuffled ONCE — a (prev, cur)
    hash aggregate whose map-side partials collapse duplicate bigrams
    before the exchange. Unigram counts and N are DERIVED from that pair
    table (c_prev(a) = Σ_b n(a,b) etc.), so the three follow-on
    aggregates shuffle only distinct-pair rows (vocab-bounded, not
    corpus-bounded). The ``min_count`` floor prunes the pair table before
    the two unigram equi-joins (each keyed by a single token — hot keys
    are what AQE skew-join splits); N is a 1-row broadcast; the global
    top-k is TakeOrderedAndProject (per-partition heaps, no full sort).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1: {min_count}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    bg = doc_bigrams(docs, id_col=id_col, text_col=text_col)
    pairs_all = (bg.groupBy("prev", "cur")
                 .agg(F.count(F.lit(1)).alias("n_pair")))
    # one checkpoint of the distinct-pair table feeds all four consumers —
    # without it Spark re-scans and re-shuffles the full corpus per branch
    pairs_all = pairs_all.localCheckpoint(eager=False)
    pairs = pairs_all.filter(F.col("n_pair") >= min_count)
    c_prev = pairs_all.groupBy("prev").agg(F.sum("n_pair").alias("c_prev"))
    c_cur = pairs_all.groupBy("cur").agg(F.sum("n_pair").alias("c_cur"))
    total = pairs_all.agg(F.sum("n_pair").alias("n_total"))
    scored = (pairs.join(c_prev, "prev").join(c_cur, "cur")
              .crossJoin(F.broadcast(total))
              .select(
                  "prev", "cur", "n_pair",
                  F.round(F.log2(F.col("n_pair") * F.col("n_total") /
                                 (F.col("c_prev") * F.col("c_cur"))), 6)
                  .alias("pmi")))
    return scored.orderBy(F.desc("pmi"), "prev", "cur").limit(k)


def textrank_keywords(docs: DataFrame, k: int = 100, alpha: float = 0.85,
                      iterations: int = 3, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Corpus-level keyword extraction by TextRank (Mihalcea & Tarau,
    "TextRank: Bringing Order into Text", EMNLP 2004): build the
    undirected word co-occurrence graph (window = 2, i.e. adjacent-token
    pairs — the paper's best-scoring window) weighted by co-occurrence
    count, run the damped random walk, return the top-``k`` words.

        r_{t+1}(v) = (1-alpha)/n + alpha * sum_u r_t(u) * w(u,v)/s(u)

    with s(u) the total co-occurrence weight at u (so the walk matrix is
    row-stochastic and mass is conserved — the symmetric graph has no
    dangling vertices by construction, which is WHY this loop skips the
    dangling-gather machinery of operators/pagerank.py while keeping its
    J1 join + per-dst sum shapes, kernel_bblock.cu:337,219-464).

    Returns ``(word, strength, score)`` ordered by (round(score, 6) desc,
    word) — the rounding is in the sort key so the top-k boundary is the
    same total order in any engine. Words never co-occurring with another
    word (single-token docs) are not graph vertices and cannot rank.

    Scale shape: the corpus is scanned once into the bigram pair
    aggregate (map-side partials collapse repeats before the exchange);
    everything after is vocab-bounded, not corpus-bounded. Each iteration
    is one equi-join of the rank vector against the weighted edge table
    plus one per-dst SUM whose partials absorb stopword hubs map-side
    (the planted-hub evidence in BENCH/BASELINE.md shows SUM-shaped
    gathers need no salting); the final top-k is TakeOrderedAndProject.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0: {iterations}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    bg = doc_bigrams(docs, id_col=id_col, text_col=text_col)
    pe = (bg.filter(F.col("prev") != F.col("cur"))
          .select(F.least("prev", "cur").alias("a"),
                  F.greatest("prev", "cur").alias("b"))
          .groupBy("a", "b").agg(F.count(F.lit(1)).alias("cnt")))
    de = (pe.select(F.col("a").alias("src"), F.col("b").alias("dst"), "cnt")
          .unionByName(pe.select(F.col("b").alias("src"),
                                 F.col("a").alias("dst"), "cnt")))
    strength = de.groupBy("src").agg(F.sum("cnt").alias("s"))
    we = (de.join(strength, "src")
          .select("src", "dst",
                  (F.col("cnt") / F.col("s").cast("double")).alias("w"))
          .localCheckpoint(eager=True))
    verts = strength.select(F.col("src").alias("word"),
                            F.col("s").alias("strength")) \
        .localCheckpoint(eager=True)
    n = verts.count()
    if n == 0:
        return verts.select("word", "strength",
                            F.lit(0.0).alias("score")).limit(0)
    ranks = verts.select("word", F.lit(1.0 / n).alias("r"))
    for _ in range(iterations):
        inflow = (we.join(ranks.withColumnRenamed("word", "src"), "src")
                  .groupBy("dst").agg(F.sum(F.col("r") * F.col("w"))
                                      .alias("m"))
                  .withColumnRenamed("dst", "word"))
        ranks = (verts.select("word").join(inflow, "word", "left")
                 .select("word",
                         (F.lit((1.0 - alpha) / n) + F.lit(alpha)
                          * F.coalesce("m", F.lit(0.0))).alias("r"))
                 .localCheckpoint(eager=False))
    return (verts.join(ranks, "word")
            .select("word", "strength", F.round("r", 6).alias("score"))
            .orderBy(F.desc("score"), "word").limit(k))
