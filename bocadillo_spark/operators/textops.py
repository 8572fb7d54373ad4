"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting — the training-data-pipeline layer over
`documents`/pages.

Everything here is native expressions (no Python workers anywhere):
token counting and quality ratios are plain column exprs; language-ID is
a staged token filter + profile-membership counts + CASE argmax;
fingerprinting is a codepoint polynomial fold. The one exception is
zscore_per_user, which deliberately demonstrates the grouped-map
applyInPandas surface. lang_id_kernel / hashing.rolling_fingerprint are
the scalar pytest twins; the DuckDB oracle generators live alongside so
Spark and SQL can't drift.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H

# tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES: dict[str, frozenset[str]] = {
    "en": frozenset({"the", "a", "of", "and", "to", "in", "is"}),
    "de": frozenset({"der", "die", "das", "und", "ist", "ein"}),
    "fr": frozenset({"le", "la", "les", "et", "est", "un"}),
    "es": frozenset({"el", "la", "los", "y", "es", "un"}),
    "zh": frozenset({"的", "是", "了", "在"}),
    "ja": frozenset({"の", "は", "に", "を"}),
}

# NOTE: the quality-scoring implementation lives in queries.py's
# q_quality_scores (the graded, oracle-matched expression set). An
# earlier module-level quality_scores/token_count_col pair here was
# removed by the round-6 review: it had NO callers and had drifted from
# the graded twin (Java \w/\s character classes vs the oracle-portable
# [^a-zA-Z0-9_ ], int vs long n_chars_m, \s+ tokenization vs the
# repo-wide single-space split) — a silent-mismatch trap for future
# callers, not a usable operator.


LANGS_SORTED = sorted(LANG_PROFILES)


def lang_id_kernel(text: str) -> tuple[str, float]:
    """Scalar twin of the native lang_id expression (pytest oracle).
    Tokens = single-space split, empties dropped; per-lang score =
    stopword hits / n_tokens; winner = first lang in sorted order with the
    strictly-highest score, 'und' when every score is zero."""
    toks = [x for x in (text or "").split(" ") if x]
    best, best_score = "und", 0.0
    for lang in LANGS_SORTED:
        prof = LANG_PROFILES[lang]
        score = (sum(1 for t in toks if t in prof) / len(toks)) if toks else 0.0
        if score > best_score:
            best, best_score = lang, score
    return best, best_score


def _langid_score_cols(toks_col):
    """Per-language score expressions over a MATERIALIZED tokens column
    (hits/n_tokens as an exact int/int double division). Callers stage the
    token filter once — the scores reference it ~8x each (6 langs + argmax
    + CASE), and a multiply-referenced expensive expression is exactly
    what Catalyst keeps as its own projection."""
    n_safe = F.greatest(F.size(toks_col), F.lit(1)).cast("double")

    def member_pred(prof):
        return lambda x: x.isin(*prof)

    scores = {}
    for lang in LANGS_SORTED:
        hits = F.size(F.filter(toks_col, member_pred(sorted(LANG_PROFILES[lang]))))
        scores[lang] = hits.cast("double") / n_safe
    return scores


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-profile language heuristic — fully native (token filter +
    per-profile membership counts + CASE argmax; the round-1 per-row
    Python loop is gone). Ties → earliest lang in sorted order; all-zero →
    'und'. Exact under the DuckDB oracle because every score is an int/int
    double division."""
    staged = docs.select(
        "doc_id",
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda x: x != ""
        ).alias("toks"),
    )
    scores = _langid_score_cols(F.col("toks"))
    best = F.greatest(*scores.values())
    pred = F.when(best <= F.lit(0.0), F.lit("und"))
    for lang in LANGS_SORTED:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return staged.select(
        "doc_id", pred.otherwise(F.lit("und")).alias("pred_lang"), best.alias("score")
    )


def langid_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of lang_id, generated from the same LANG_PROFILES so the
    two can't drift."""
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    score_exprs = []
    for lang in LANGS_SORTED:
        words = ", ".join(f"'{w}'" for w in sorted(LANG_PROFILES[lang]))
        score_exprs.append(
            f"CAST(len(list_filter(toks, x -> x IN ({words}))) AS DOUBLE)"
            f" / greatest(len(toks), 1) AS s_{lang}"
        )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANGS_SORTED) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' "
    case += " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in LANGS_SORTED
    )
    case += " ELSE 'und' END"
    return f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM {table}),
s AS (SELECT doc_id, {", ".join(score_exprs)} FROM t)
SELECT doc_id, {case} AS pred_lang, round({best}, 6) AS score FROM s"""


ZSCORE_SCHEMA = "user_id long, event_id long, value double, zscore double"


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    mu = pdf["value"].mean()
    sd = pdf["value"].std(ddof=0)
    z = (pdf["value"] - mu) / sd if sd and sd > 0 else pdf["value"] * 0.0
    # round(6) + 0.0: fixed quantization for the cross-engine oracle and
    # -0.0 normalized to +0.0 (stringifies differently otherwise)
    return pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "value": pdf["value"],
            "zscore": z.round(6) + 0.0,
        }
    )


def zscore_per_user(events: DataFrame) -> DataFrame:
    """Grouped-map applyInPandas: whole-group normalization (the shape for
    per-group model scoring / feature normalization at scale — one shuffle
    on the group key, pandas per group)."""
    return (
        events.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(_zscore_group, ZSCORE_SCHEMA)
    )


# Gopher-style repetition thresholds (Rae et al. 2021 §A1.1 shape, tuned to
# this corpus's 31-word vocabulary) and the decontamination split constants.
REP_TOP_BIGRAM_MAX = 0.08
REP_DUP_TRIGRAM_MAX = 0.5
# modulus picked so the planted near-dup pairs straddle the eval/train
# split at every SF (3/3/5 contaminated docs at sf0.001/0.01/0.1) — the
# query must not grade on a trivially empty result
DECONTAM_EVAL_MOD = 89
DECONTAM_NGRAM = 8


def _word_ngrams(ws, n: int):
    """array<string> of space-joined word n-grams over a words column.
    Guarded: size < n yields an empty array (Spark's sequence(1, 0) would
    otherwise step backwards and produce [1, 0])."""
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _word_ngram_hashes(ws, n: int):
    """array<bigint> of 64-bit n-gram identities over a words column:
    xxhash64 of each n-word slice (the array hash covers length and
    every element, so it is a deterministic function of the word
    SEQUENCE). Replaces the joined-string n-gram as a grouping/join key
    where only n-gram IDENTITY matters (guide §2.3 — shuffle a few key
    bytes, not the payload): equal n-grams always collide, two DISTINCT
    n-grams collide w.p. ~2^-64 — the same contract class the
    exact-substring and MinHash fast families pin (see
    cleanops.exsub_oracle_sql's collision argument). Same empty-safety
    guard as _word_ngrams."""
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.xxhash64(F.slice(ws, i, n)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _words_col():
    return F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda x: x != ""
    )


def _word_ids_col():
    """array<bigint> of word identities: xxhash64 of each _words_col()
    token. THE word key of every word-count model (unigram, DSIR,
    entropy, bigram): their counts and joins need only word EQUALITY, so
    shuffles and broadcasts carry int64 keys instead of strings. Equal
    words always collide; two DISTINCT words collide w.p. ~2^-64 (the
    _word_ngram_hashes contract class), so counts are exact modulo that
    class. Empty/NULL text yields []."""
    return F.transform(_words_col(), lambda w: F.xxhash64(w))


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, per document:
    top_bigram_frac (occurrences of the most common word bigram / total
    bigrams) and dup_trigram_frac (mass of trigrams beyond their first
    occurrence / total trigrams), plus the filter flag.

    Scale shape: explode → groupBy(doc_id, n, gram) → re-agg on doc_id —
    two key-local shuffles, NO per-row quadratic array scan (an
    array_distinct×filter nest would be O(len²) per doc and melt on long
    documents). Both n-gram streams ride one exploded frame so the corpus
    is read and shuffled once. Ratios are int/int double divisions →
    bit-exact under the DuckDB twin (repetition_oracle_sql).

    The words array is STAGED as its own projection before the n-gram
    transforms: higher-order lambdas re-evaluate every non-lambda subtree
    per element, so an inline _words_col() would re-split and re-filter
    the whole text once per n-gram position (O(len²) per doc — the
    executed r06 plan carried six copies of filter(split(text)), two of
    them inside the per-element slice lambdas). A multiply-referenced
    projection is exactly what Catalyst keeps materialized (the
    _langid_score_cols staging lesson)."""
    staged = docs.select("doc_id", _words_col().alias("ws"))
    ws = F.col("ws")
    # n-grams flow as 64-bit identities (_word_ngram_hashes), never as
    # joined strings: the aggregation needs only gram EQUALITY (counts,
    # max, distinct), so the shuffle carries (doc_id, n, int64) rows
    # instead of (doc_id, n, ~20-byte string) and no per-gram string is
    # ever allocated. Counts — hence both ratios — are identical modulo
    # the 2^-64 cross-gram collision class pinned repo-wide.
    tagged = F.concat(
        F.transform(
            _word_ngram_hashes(ws, 2),
            lambda h: F.struct(F.lit(2).alias("n"), h.alias("gram")),
        ),
        F.transform(
            _word_ngram_hashes(ws, 3),
            lambda h: F.struct(F.lit(3).alias("n"), h.alias("gram")),
        ),
    )
    grams = staged.select("doc_id", F.explode(tagged).alias("g")).select(
        "doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram")
    )
    counts = grams.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    is2 = F.col("n") == 2
    is3 = F.col("n") == 3
    per_doc = counts.groupBy("doc_id").agg(
        (
            F.max(F.when(is2, F.col("c"))).cast("double")
            / F.sum(F.when(is2, F.col("c")))
        ).alias("top_bigram_frac"),
        (
            (F.sum(F.when(is3, F.col("c"))) - F.count(F.when(is3, F.lit(1)))).cast(
                "double"
            )
            / F.sum(F.when(is3, F.col("c")))
        ).alias("dup_trigram_frac"),
    )
    top = F.coalesce("top_bigram_frac", F.lit(0.0))
    dup = F.coalesce("dup_trigram_frac", F.lit(0.0))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            top.alias("top_bigram_frac"),
            dup.alias("dup_trigram_frac"),
            (
                (top > F.lit(REP_TOP_BIGRAM_MAX))
                | (dup > F.lit(REP_DUP_TRIGRAM_MAX))
            ).alias("flagged"),
        )
    )


def repetition_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of repetition_scores (same thresholds via the shared
    constants, same guarded n-gram construction)."""
    return f"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM {table}),
g AS (
  SELECT doc_id, 2 AS n, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram FROM w
  UNION ALL
  SELECT doc_id, 3 AS n, unnest(list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram FROM w
),
c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
a AS (SELECT doc_id,
        CAST(max(CASE WHEN n = 2 THEN c END) AS DOUBLE)
          / sum(CASE WHEN n = 2 THEN c END) AS top_bigram_frac,
        CAST(sum(CASE WHEN n = 3 THEN c END) - count(CASE WHEN n = 3 THEN 1 END) AS DOUBLE)
          / sum(CASE WHEN n = 3 THEN c END) AS dup_trigram_frac
      FROM c GROUP BY 1)
SELECT d.doc_id,
  coalesce(a.top_bigram_frac, 0.0) AS top_bigram_frac,
  coalesce(a.dup_trigram_frac, 0.0) AS dup_trigram_frac,
  (coalesce(a.top_bigram_frac, 0.0) > {REP_TOP_BIGRAM_MAX}
   OR coalesce(a.dup_trigram_frac, 0.0) > {REP_DUP_TRIGRAM_MAX}) AS flagged
FROM {table} d LEFT JOIN a USING (doc_id)"""


def decontaminate(docs: DataFrame) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any word
    {DECONTAM_NGRAM}-gram with the held-out eval split (doc_id %
    {DECONTAM_EVAL_MOD} == 0 — a deterministic stand-in for a benchmark
    suite). Returns (doc_id, lang, n_matched_ngrams) for contaminated
    train docs only.

    Scale shape: the eval n-gram set is tiny relative to the corpus (real
    eval suites are MBs against TBs of train), so it is distinct-ed and
    BROADCAST against the exploded train n-grams; the train side is never
    shuffled on the gram key — the broadcast join filters it map-side and
    only MATCHED n-grams reach the one real shuffle, the per-doc
    count_distinct (partial distinct runs map-side). The planted near-dup
    pairs in the corpus make the result non-trivial at every SF.

    The words array is staged as its own projection (the
    repetition_scores lesson): an inline _words_col() is re-evaluated per
    n-gram position inside the slice lambda — O(len²) re-splitting per
    doc in the executed plan."""
    staged = docs.select("doc_id", "lang", _words_col().alias("ws"))
    # n-grams flow as 64-bit identities (_word_ngram_hashes): the eval
    # set, the broadcast, the join and the per-doc count_distinct all
    # need only 8-gram EQUALITY, so no ~45-byte joined string is ever
    # built or shuffled and the broadcast eval set shrinks ~5x. Matched
    # counts are identical modulo the 2^-64 collision class.
    ng = staged.select(
        "doc_id",
        "lang",
        F.explode(_word_ngram_hashes(F.col("ws"), DECONTAM_NGRAM)).alias("g"),
    )
    is_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    ev = ng.where(is_eval).select("g").distinct()
    return (
        ng.where(~is_eval)
        .join(F.broadcast(ev), "g")
        .groupBy("doc_id", "lang")
        .agg(F.count_distinct(F.col("g")).cast("long").alias("n_matched_ngrams"))
    )


def decontam_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of decontaminate (same n, same eval modulus)."""
    n = DECONTAM_NGRAM
    return f"""WITH w AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM {table}),
ng AS (SELECT doc_id, lang,
         unnest(list_transform(range(1, len(ws)-{n - 2}),
                               i -> array_to_string(ws[i:i+{n - 1}], ' '))) AS g
       FROM w),
ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % {DECONTAM_EVAL_MOD} = 0),
tr AS (SELECT DISTINCT doc_id, lang, g FROM ng WHERE doc_id % {DECONTAM_EVAL_MOD} <> 0)
SELECT tr.doc_id, tr.lang, CAST(count(*) AS BIGINT) AS n_matched_ngrams
FROM tr JOIN ev USING (g) GROUP BY tr.doc_id, tr.lang"""


FP_FOLD_CHUNK = 1024  # chars per inner fold; bounds transient memory


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """Rolling polynomial hash over text codepoints mod 2^31-1 — fully
    native (whole-stage-free higher-order fold, no Python). Same digits as
    hashing.rolling_fingerprint and the DuckDB list_reduce oracle.

    Memory shape: the round-3 form split the WHOLE text into a
    per-codepoint array<string> (~10-20× transient blowup per row; a
    100 MB doc materialized GBs of 1-char strings). This form folds in two
    stages with identical modulus math: the text is cut into
    FP_FOLD_CHUNK-char substrings (the chunk list is O(len) chars, cheap),
    and each chunk's inner fold computes (h, pw) = (hash of the chunk,
    base^len(chunk) mod p) — only ONE chunk's codepoint array is live at a
    time. The outer fold combines exactly as polynomial hashing composes:
    acc' = (acc·pw + h) mod p. Bounds: inner acc·base+v < 2^51; outer
    acc·pw < 2^62 — exact in LongType under ANSI. Envelope: peak transient
    per row is O(FP_FOLD_CHUNK) char objects + the text itself, so even a
    >100 MB pathological doc folds in bounded memory (fixture:
    tests/test_parse_adversarial.py megadoc case)."""
    p = F.lit(H.MERSENNE31)
    base = F.lit(H.FP_BASE)
    t = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(t)
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(FP_FOLD_CHUNK))).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(starts, lambda i: F.substring(t, i, F.lit(FP_FOLD_CHUNK)))

    def chunk_hp(chunk):
        cps = F.transform(
            F.filter(F.split(chunk, ""), lambda c: c != ""),
            lambda c: F.ascii(c).cast("long"),
        )
        return F.aggregate(
            cps,
            F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("pw")),
            lambda acc, v: F.struct(
                ((acc.h * base + v) % p).alias("h"), ((acc.pw * base) % p).alias("pw")
            ),
        )

    # transform-then-fold so each chunk's inner fold is evaluated exactly
    # once (higher-order fns are interpreted — no CSE between two lambda
    # references; the round-2 lesson). The hp array is O(len/CHUNK) structs.
    hps = F.transform(chunks, chunk_hp)
    fp = F.aggregate(
        hps,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * x.pw + x.h) % p,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


def fingerprint_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of doc_fingerprints (same base/modulus constants)."""
    return f"""SELECT doc_id, CAST(list_reduce(
  list_prepend(CAST(0 AS BIGINT),
    list_transform(range(1, length(coalesce(text,''))+1),
                   i -> CAST(ord(coalesce(text,'')[i]) AS BIGINT))),
  (acc, v) -> (acc * {H.FP_BASE} + v) % {H.MERSENNE31}) AS BIGINT) AS fingerprint
FROM {table}"""

