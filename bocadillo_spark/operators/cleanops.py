"""Corpus-cleaning operators for the training-data layer: C4-style
inter-document chunk dedup, PII redaction, unigram-LM quality scoring,
and temperature-based language sampling weights.

Like textops.py, every operator here is a fully native plan (no Python
workers) and ships with a DuckDB oracle generator that shares its
constants, so the driver's cross-engine value-hash gate covers it.

Reference lineage: the reference's only text transform is a regex
predicate (reader/schema/manager.go:72-80) and its dedup analog is the
keyed tableMap upsert (reader/reader.go:103-108); these operators are the
corpus-scale generalizations the brief's training-data layer asks for
(C4: Raffel et al. 2020 §2.2 three-sentence dedup; CCNet: Wenzek et al.
2020 LM quality buckets; mT5: Xue et al. 2021 §3 temperature sampling).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .textops import _word_ids_col, _words_col

# C4-style dedup granularity: non-overlapping word chunks (the synthetic
# corpus has no sentence boundaries, so a fixed token window stands in for
# C4's three-sentence span; the plan shape is identical).
CHUNK_WORDS = 12

# PII planting moduli (deterministic, SQL-expressible in both engines so
# the oracle plants the exact same spans it then expects redacted).
PII_EMAIL_MOD = 7
PII_PHONE_MOD, PII_PHONE_REM = 11, 3

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

# mT5/XLM-R style sampling temperature: p_l ∝ (n_l/N)^ALPHA.
SAMPLE_ALPHA = 0.3


def _md5_utf8(col):
    return F.md5(F.encode(col, "UTF-8"))


def _chunks_col(ws):
    """Non-overlapping CHUNK_WORDS-token chunk array over a words column
    (empty-safe: a 0-word doc yields []). THE single chunker — chunk_dedup
    and boilerplate_chunks (and their SQL twins via _chunk_explode_sql)
    must chunk identically or the md5-exact parity breaks."""
    k = CHUNK_WORDS
    nch = F.ceil(F.size(ws) / F.lit(float(k))).cast("int")
    return F.when(
        F.size(ws) > 0,
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda j: F.array_join(F.slice(ws, j * k + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _chunk_explode_sql(extra_cols: str = "") -> str:
    """DuckDB twin of _chunks_col + posexplode: w2/ch CTE bodies over a
    preceding CTE `w(doc_id, {extra_cols}, ws)` → ch(doc_id, {extra_cols},
    pos, chunk)."""
    k = CHUNK_WORDS
    cols = f"doc_id{', ' + extra_cols if extra_cols else ''}"
    return f"""w2 AS (SELECT {cols}, ws, CAST(ceil(len(ws) / {k}.0) AS INT) AS nch FROM w),
ch AS (
  SELECT {cols},
         unnest(range(0, nch)) AS pos,
         unnest(list_transform(range(0, nch),
                j -> array_to_string(ws[j*{k}+1 : j*{k}+{k}], ' '))) AS chunk
  FROM w2)"""


def chunk_dedup(docs: DataFrame) -> DataFrame:
    """C4-style inter-document exact chunk dedup: split every document
    into non-overlapping CHUNK_WORDS-token chunks, keep only the globally
    FIRST occurrence of each distinct chunk (ordered by (doc_id, pos) —
    C4 keeps one occurrence of each duplicated span), reassemble the
    surviving chunks per document. Returns per doc: chunk counts and the
    md5 of the cleaned text (exact under the DuckDB twin).

    Scale shape (the C4 dedup shuffle): posexplode → ONE shuffle on the
    chunk key (window groups are tiny — a chunk's occurrence list), then
    one shuffle on doc_id for reassembly. No driver-side state, no
    quadratic scan; hot chunks (boilerplate repeated millions of times)
    stay a single window group whose rows are (doc_id, pos) pairs only —
    the chunk string itself is the key, never multiplied.

    The words array is staged as its own projection: _chunks_col's
    per-chunk slice lambda would otherwise re-split the whole text once
    per chunk (higher-order lambdas re-evaluate non-lambda subtrees per
    element — the repetition_scores lesson)."""
    ex = docs.select("doc_id", _words_col().alias("ws")).select(
        "doc_id", F.posexplode(_chunks_col(F.col("ws"))).alias("pos", "chunk")
    )
    rn = F.row_number().over(
        W.partitionBy("chunk").orderBy(F.asc("doc_id"), F.asc("pos"))
    )
    exrn = ex.withColumn("rn", rn)
    kept_struct = F.when(F.col("rn") == 1, F.struct(F.col("pos"), F.col("chunk")))
    agg = exrn.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count(F.when(F.col("rn") == 1, F.lit(1))).cast("long").alias("n_kept"),
        _md5_utf8(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s.chunk
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    return (
        docs.select("doc_id", "lang")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("clean_md5"), _md5_utf8(F.lit(""))).alias("clean_md5"),
        )
    )


def chunk_dedup_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of chunk_dedup (same chunking via _chunk_explode_sql,
    same keep-first rule)."""
    return f"""WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM {table}),
{_chunk_explode_sql()},
rk AS (
  SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM ch),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
         md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos), ''))
           AS clean_md5
  FROM rk GROUP BY doc_id)
SELECT d.doc_id, d.lang,
       coalesce(a.n_chunks, 0) AS n_chunks,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.clean_md5, md5('')) AS clean_md5
FROM {table} d LEFT JOIN agg a USING (doc_id)"""


def _planted_pii_col():
    """Deterministically plant PII spans into the corpus text — the same
    expression is emitted into the oracle, so the redactor under test is
    graded against spans it provably did not construct itself."""
    email = F.when(
        F.col("doc_id") % PII_EMAIL_MOD == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com for details"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % PII_PHONE_MOD == PII_PHONE_REM,
        F.concat(
            F.lit(" call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" today"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone)


def pii_redaction(docs: DataFrame) -> DataFrame:
    """PII scrub pass: count and redact email/phone spans (planted
    deterministically — the synthetic corpus contains none). Pure
    map-side native regex work, zero shuffles; at 100 TB this runs inside
    the scan stage at parquet read speed."""
    planted = _planted_pii_col()
    redacted = F.regexp_replace(
        F.regexp_replace(planted, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(planted, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(planted, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        _md5_utf8(redacted).alias("redacted_md5"),
    )


def pii_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of pii_redaction: plants the identical spans via the
    shared moduli, then redacts with the same (RE2-and-Java-portable)
    patterns."""
    planted = (
        "text"
        f" || CASE WHEN doc_id % {PII_EMAIL_MOD} = 0 THEN"
        " ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com for details'"
        " ELSE '' END"
        f" || CASE WHEN doc_id % {PII_PHONE_MOD} = {PII_PHONE_REM} THEN"
        " ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'"
        " ELSE '' END"
    )
    return f"""WITH p AS (SELECT doc_id, {planted} AS planted FROM {table})
SELECT doc_id,
  CAST(len(regexp_extract_all(planted, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(planted, '{PHONE_RE}')) AS BIGINT) AS n_phones,
  md5(regexp_replace(regexp_replace(planted, '{EMAIL_RE}', '<EMAIL>', 'g'),
                     '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM p"""


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """CCNet-style LM quality proxy: score each document by the mean
    unigram log-probability of its tokens under the corpus's own unigram
    model (two-pass: vocabulary counts, then score). Low scorers are
    boilerplate/garbage candidates. NULL/empty contract: a document with
    no tokens (empty or NULL text) yields no row; every other document
    yields one row with n_tokens = its token count.

    Scale shape: pass 1 is one map-side-combined groupBy(word); pass 2 is
    a map-side broadcast join of the exploded corpus against the vocab
    plus one groupBy(doc_id). The corpus is never shuffled on the word
    key; the broadcast is a HINT ONLY on a Zipf-bounded side.

    Deliberately NOT persisted (measured r07): the vocab subtree appears
    under several consumers, but Spark's exchange reuse already shares
    its shuffle output within the one executed plan — adding persist()
    (vocab alone, or vocab + the exploded words) measured 0.76-0.84 s vs
    0.65 s plain at sf0.1. Only the pre-exchange map work (scan+explode)
    re-runs per copy, and that is cheaper than cache materialization.

    Words flow as textops._word_ids_col identities, so vocab, broadcast
    and shuffle rows carry int64 keys; scores are identical modulo the
    repo-wide 2^-64 collision class."""
    wexp = docs.select("doc_id", F.explode(_word_ids_col()).alias("word"))
    vocab = wexp.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    scored = wexp.join(F.broadcast(vocab), "word").crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") / F.col("total"))), 6).alias("avg_logprob"),
        )
    )


def unigram_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of unigram_logprob (same tokenization, same model)."""
    return f"""WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM {table}),
v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
t AS (SELECT sum(c) AS total FROM v)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS avg_logprob
FROM w JOIN v USING (word) CROSS JOIN t
GROUP BY doc_id"""


# DSIR-style importance resampling constants (shared with the oracle).
DSIR_TARGET_LANG = "en"
DSIR_HASH_A, DSIR_HASH_C, DSIR_HASH_M = 2_654_435_761, 7, 1_000_003


def importance_resample(docs: DataFrame) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, by shape): score
    each document by the mean per-token log importance ratio between a
    TARGET unigram model (the DSIR_TARGET_LANG slice, add-one smoothed)
    and the RAW corpus model, then keep it with probability
    min(1, exp(score)) via a deterministic integer-hash gate — the
    standard data-mixing step that tilts a web corpus toward a target
    domain without an RNG (reruns and backfills keep identical picks).

    Exactness (the driver hash-compares against DuckDB): every model
    ratio is an int/int division (exact double both engines); per-doc
    score is round(avg(ln ...), 6); the acceptance test compares
    round(ln(k/M), 6) < score with k from an exact integer LCG — the
    int/int and round-6 recipes proven across the registry. exp() never
    runs: accept-in-log-space is the same event.

    Scale shape: ONE map-side-combined groupBy(word) builds both models
    (c_all = count, c_tgt = count_if over the target slice), the
    vocabulary is broadcast, and the corpus is joined map-side and
    aggregated once per doc_id — the corpus is never shuffled on the
    word key, same plan family as unigram_logprob. The per-word
    expression subtracts two logs instead of ln of one fused ratio, so
    no BIGINT product can overflow at 100-TB token counts."""
    kept = dsir_doc_scores(docs)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.sum(F.when(F.col("sampled"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("sampled_tokens"),
    )


def dsir_doc_scores(docs: DataFrame) -> DataFrame:
    """Per-document DSIR scores and accept decisions: (doc_id, lang,
    n_tokens, score, sampled). The whole importance_resample computation
    minus its final per-lang rollup — extracted so compositions (the
    curation pipeline) can keep the SAMPLED DOCUMENTS rather than the
    summary; importance_resample wraps this with an identical plan. See
    its docstring for the model, exactness, and scale-shape contract.
    NULL/empty contract: a document with no tokens (empty or NULL text)
    yields no row; every other document yields one row with n_tokens =
    its token count.

    Both models come from one aggregate: count_if gives a word absent
    from the target slice c_tgt = 0, exactly what the oracle's LEFT JOIN
    + coalesce(c_tgt, 0) gives, so the vocabulary (and V, its distinct
    count) is the oracle's, modulo the 2^-64 collision class of the
    textops._word_ids_col word keys.

    Deliberately NOT persisted (measured r07, same verdict as
    unigram_logprob): the vocab subtree appears under several consumers,
    but Spark's exchange reuse already shares its shuffle output within
    the one executed plan — adding persist() (vocab alone, or vocab +
    the exploded words) measured consistently slower in interleaved A/B
    at sf0.1 (importance_resample ~1.05 s plain vs ~1.25 s with the
    vocab persisted; curation_pipeline ~3.45 s vs ~3.65 s). Only the
    pre-exchange map work re-runs per copy, and that is cheaper than
    cache materialization."""
    wexp = docs.select("doc_id", "lang", F.explode(_word_ids_col()).alias("word"))
    vocab = wexp.groupBy("word").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.count_if(F.col("lang") == DSIR_TARGET_LANG).alias("c_tgt"),
    )
    consts = vocab.agg(
        F.sum("c_all").alias("n_all"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    ratio = F.log(
        (F.col("c_tgt") + 1).cast("double") / (F.col("n_tgt") + F.col("v"))
    ) - F.log(F.col("c_all").cast("double") / F.col("n_all"))
    scored = wexp.join(F.broadcast(vocab), "word").crossJoin(F.broadcast(consts))
    per_doc = (
        scored.groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(ratio), 6).alias("score"),
        )
    )
    k = (
        F.pmod(
            F.col("doc_id") * F.lit(DSIR_HASH_A) + F.lit(DSIR_HASH_C),
            F.lit(DSIR_HASH_M),
        )
        + 1
    )
    ln_u = F.round(F.log(k.cast("double") / F.lit(float(DSIR_HASH_M))), 6)
    return per_doc.withColumn("sampled", ln_u < F.col("score"))


def importance_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of importance_resample (same models, hash gate, rounding)."""
    return f"""WITH w AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM {table}),
ca AS (SELECT word, count(*) AS c_all FROM w GROUP BY word),
ct AS (SELECT word, count(*) AS c_tgt FROM w WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY word),
v AS (SELECT ca.word, c_all, coalesce(c_tgt, 0) AS c_tgt FROM ca LEFT JOIN ct USING (word)),
k AS (SELECT sum(c_all) AS n_all, sum(c_tgt) AS n_tgt, count(*) AS nv FROM v),
pd AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(ln(CAST(c_tgt + 1 AS DOUBLE) / (n_tgt + nv))
                   - ln(CAST(c_all AS DOUBLE) / n_all)), 6) AS score
  FROM w JOIN v USING (word) CROSS JOIN k
  GROUP BY doc_id, lang),
s AS (
  SELECT lang, n_tokens,
         round(ln(CAST(((doc_id * {DSIR_HASH_A} + {DSIR_HASH_C}) % {DSIR_HASH_M}) + 1
                       AS DOUBLE) / {DSIR_HASH_M}), 6) < score AS sampled
  FROM pd)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(CASE WHEN sampled THEN n_tokens ELSE 0 END) AS BIGINT) AS sampled_tokens
FROM s GROUP BY lang"""


def lang_sampling_weights(docs: DataFrame) -> DataFrame:
    """Temperature-based language sampling (mT5 §3 / XLM-R): per-language
    multinomial weight p_l ∝ (n_l/N)^alpha (SAMPLE_ALPHA) — the
    upsampling schedule a multilingual training run draws from. Tiny
    aggregate math over the per-language counts; the only shuffle is the
    map-side-combined groupBy(lang)."""
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"))
    p = counts.crossJoin(F.broadcast(total)).withColumn(
        "pw", F.pow(F.col("n_docs").cast("double") / F.col("total"), SAMPLE_ALPHA)
    )
    z = p.agg(F.sum("pw").alias("z"))
    return p.crossJoin(F.broadcast(z)).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("pw") / F.col("z"), 6).alias("sample_weight"),
        F.round(F.lit(100000) * F.col("pw") / F.col("z"), 0)
        .cast("long")
        .alias("docs_per_100k"),
    )


def sampling_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of lang_sampling_weights (same alpha)."""
    return f"""WITH l AS (SELECT lang, count(*) AS n_docs FROM {table} GROUP BY lang),
t AS (SELECT sum(n_docs) AS total FROM l),
p AS (SELECT lang, n_docs,
        pow(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), {SAMPLE_ALPHA}) AS pw
      FROM l CROSS JOIN t),
s AS (SELECT sum(pw) AS z FROM p)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       round(pw / z, 6) AS sample_weight,
       CAST(round(100000 * pw / z, 0) AS BIGINT) AS docs_per_100k
FROM p CROSS JOIN s"""


# Boilerplate planting: a 12-word site footer (one chunk exactly) prepended
# to most docs of a source — the shared-template chunk a real site injects.
BOILER_SKIP_MOD = 3  # doc_id % 3 == 1 docs carry no footer (organic pages)
BOILER_DOC_FRAC = 0.25  # chunk is boilerplate if in > 25% of a source's docs


def _footer_words_sql(source_expr: str) -> str:
    return (
        f"'site ' || {source_expr} || "
        "' home about contact terms privacy policy careers press blog help'"
    )


def _footer_col():
    return F.concat(
        F.lit("site "),
        F.col("source"),
        F.lit(" home about contact terms privacy policy careers press blog help"),
    )


def boilerplate_chunks(docs: DataFrame) -> DataFrame:
    """Site-template boilerplate removal (the RefinedWeb/jusText-style
    frequency heuristic, corpus-scale): a chunk is boilerplate iff it
    occurs in > BOILER_DOC_FRAC of its source's documents; ALL its
    occurrences are removed (unlike chunk_dedup's keep-first). A 12-word
    per-source footer is planted on most docs so the heuristic has a real
    target; organic chunks stay under the threshold.

    Scale shape: explode → count DISTINCT docs per (source, chunk) — one
    shuffle, partial distinct map-side — against the tiny per-source doc
    totals (broadcast); then reassemble per doc. No per-row quadratics,
    no all-pairs anything."""
    from .dedup import persist_evicting

    planted = F.when(
        F.col("doc_id") % BOILER_SKIP_MOD == 1, F.col("text")
    ).otherwise(F.concat(_footer_col(), F.lit(" "), F.col("text")))
    ws = F.filter(F.split(planted, " "), lambda x: x != "")
    # persisted: the split/chunk/posexplode subtree (the expensive stage)
    # feeds BOTH the boiler-frequency branch and the tagged reassembly —
    # without the persist it would execute twice per action.
    # The words array is staged as its own projection: _chunks_col's
    # per-chunk slice lambda would otherwise re-split the whole planted
    # text once per chunk (the repetition_scores lesson).
    ex = persist_evicting(
        docs.select("doc_id", "source", ws.alias("ws")).select(
            "doc_id",
            "source",
            F.posexplode(_chunks_col(F.col("ws"))).alias("pos", "chunk"),
        )
    )
    per_chunk = ex.groupBy("source", "chunk").agg(
        F.count_distinct("doc_id").alias("n_docs_with")
    )
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    boiler = (
        per_chunk.join(F.broadcast(per_source), "source")
        .where(
            F.col("n_docs_with").cast("double") / F.col("n_docs")
            > BOILER_DOC_FRAC
        )
        .select("source", "chunk", F.lit(1).alias("is_boiler"))
    )
    tagged = ex.join(boiler, ["source", "chunk"], "left")
    kept_struct = F.when(
        F.col("is_boiler").isNull(), F.struct(F.col("pos"), F.col("chunk"))
    )
    agg = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count("is_boiler").cast("long").alias("n_boiler"),
        _md5_utf8(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s.chunk
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    return (
        docs.select("doc_id", "source")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
            F.coalesce(F.col("clean_md5"), _md5_utf8(F.lit(""))).alias("clean_md5"),
        )
    )


def boilerplate_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of boilerplate_chunks (same footer, mods, threshold,
    chunking via _chunk_explode_sql)."""
    return f"""WITH p AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % {BOILER_SKIP_MOD} = 1 THEN text
         ELSE {_footer_words_sql('source')} || ' ' || text END AS planted
  FROM {table}),
w AS (SELECT doc_id, source,
        list_filter(string_split(planted, ' '), x -> x <> '') AS ws FROM p),
{_chunk_explode_sql('source')},
pc AS (SELECT source, chunk, count(DISTINCT doc_id) AS n_docs_with
       FROM ch GROUP BY source, chunk),
ps AS (SELECT source, count(*) AS n_docs FROM {table} GROUP BY source),
b AS (SELECT pc.source, pc.chunk, 1 AS is_boiler
      FROM pc JOIN ps USING (source)
      WHERE CAST(n_docs_with AS DOUBLE) / n_docs > {BOILER_DOC_FRAC}),
t AS (SELECT ch.doc_id, ch.pos, ch.chunk, b.is_boiler
      FROM ch LEFT JOIN b ON ch.source = b.source AND ch.chunk = b.chunk),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(count(is_boiler) AS BIGINT) AS n_boiler,
         md5(coalesce(string_agg(CASE WHEN is_boiler IS NULL THEN chunk END,
                                 ' ' ORDER BY pos), '')) AS clean_md5
  FROM t GROUP BY doc_id)
SELECT d.doc_id, d.source,
       coalesce(a.n_chunks, 0) AS n_chunks,
       coalesce(a.n_boiler, 0) AS n_boiler,
       coalesce(a.clean_md5, md5('')) AS clean_md5
FROM {table} d LEFT JOIN agg a USING (doc_id)"""


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document token (Shannon) entropy in nats — the low-entropy
    side of Gopher's repetition family (a 200-token doc of one repeated
    word scores ~0). Two-level groupBy: (doc, word) counts then per-doc
    -sum(p ln p); both shuffles are map-side combined and keyed by
    doc_id, so the corpus is never globally mixed. Words flow as
    textops._word_ids_col identities, so the (doc, word) shuffle carries
    int64 keys; counts — hence the entropy — are identical modulo the
    repo-wide 2^-64 collision class. NULL/empty contract: a document with
    no tokens (empty or NULL text) yields no row; every other document
    yields one row with n_tokens = its token count."""
    wexp = docs.select("doc_id", F.explode(_word_ids_col()).alias("word"))
    wc = wexp.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    totals = wc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        wc.join(totals, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
    )


def entropy_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of token_entropy."""
    return f"""WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM {table}),
wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
t AS (SELECT doc_id, sum(c) AS n FROM wc GROUP BY doc_id)
SELECT wc.doc_id, CAST(max(t.n) AS BIGINT) AS n_tokens,
       round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 6)
         AS entropy_nats
FROM wc JOIN t USING (doc_id) GROUP BY wc.doc_id"""


# ---- exact-substring dedup (Lee et al. 2022, arXiv:2107.06499) --------------
# "Deduplicating Training Data Makes Language Models Better": any token
# span of >= k tokens that occurs more than once in the corpus (across OR
# within documents) keeps its globally FIRST occurrence and is cut
# everywhere else. Differs from chunk_dedup above exactly the way the
# paper motivates: C4-style fixed chunks miss duplicated passages that
# straddle a chunk boundary or sit at a different alignment; overlapping
# stride-1 windows catch every alignment. The reference implementation is
# a suffix array; the Spark-first equivalent is rolling window hashes —
# one 24-byte row per token position instead of a global suffix sort,
# which is the same O(total tokens) blow-up the suffix array pays, but
# shuffle-partitioned instead of memory-resident.
#
# Scale shape: ONE Arrow-batched pass computes all window hashes per doc
# (O(tokens) via a prefix rolling hash, not O(tokens*k)); posexplode ->
# ONE shuffle on the window hash with a map-side-combined groupBy
# (min-occurrence + count — a boilerplate window repeated millions of
# times stays one agg row); non-canonical occurrences join back on the
# deduplicated agg (AQE skew-split handles mega-hot windows); one shuffle
# on doc_id collects each doc's cut positions (bounded by the doc's own
# token count); a final Arrow pass merges overlapping cut windows via
# interval diff/cumsum in O(tokens) and reassembles the kept text.
# Equality is under 64-bit rolling hashes over 64-bit token hashes: two
# DISTINCT k-windows collide w.p. ~2^-64 (same contract class as the
# MinHash shingle family) — the pytest contract verifies against a plain
# dict-of-substrings reference.

EXSUB_K = 32
_EXSUB_B = np.uint64(0x9E3779B97F4A7C16 | 1)  # odd: invertible mod 2^64


_EXSUB_BINV = np.uint64(pow(int(_EXSUB_B), -1, 1 << 64))


def _rolling_window_hashes(token_hashes: np.ndarray, k: int) -> np.ndarray:
    """Pure-numpy core, one document: uint64 token hashes -> uint64
    rolling k-window polynomial hashes (H[pos] = sum_j t[pos+j] *
    B^(k-1-j) mod 2^64), length max(n-k+1, 0). Prefix trick: with odd
    base B, s[i] = sum_{j<i} t[j]*Binv^(j+1) (wrapping cumsum), and
    H[pos] = Bpow[pos+k] * (s[pos+k] - s[pos]) — all mod-2^64 arithmetic
    is numpy's natural uint64 wraparound, so cost is O(n) with no
    per-token Python. Property-tested directly (hash equality ⟺ window
    equality on dense-collision inputs) in
    tests/test_exact_substring_dedup.py."""
    n = len(token_hashes)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    ipow = np.empty(n + 1, dtype=np.uint64)
    ipow[0] = np.uint64(1)
    np.multiply.accumulate(np.full(n, _EXSUB_BINV, dtype=np.uint64), out=ipow[1:])
    s = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(token_hashes * ipow[1:], out=s[1:])
    bpow = np.empty(n + 1, dtype=np.uint64)
    bpow[0] = np.uint64(1)
    np.multiply.accumulate(np.full(n, _EXSUB_B, dtype=np.uint64), out=bpow[1:])
    return bpow[k:] * (s[k:] - s[:-k])


def window_hashes_pandas(k: int = EXSUB_K):
    """text -> array<long> of rolling k-token window hashes (one per
    start position; empty when the doc has < k tokens). Tokenization is
    split-on-single-space with EMPTIES KEPT — deliberately NOT the
    repo-wide _words_col convention (which filters empty tokens):
    keeping empties makes split/join an exact byte round-trip, which the
    clean_md5 contract needs. Consequence: n_tokens for a null/empty doc
    is 1 here vs 0 in _words_col-based operators; both exsub UDFs
    (window_hashes_pandas and _cut_and_reassemble_pandas) share the
    empties-kept rule, so the operator is internally consistent. Token
    hashing via pd.util.hash_array over the batch's factorized distinct
    tokens (the _distinct_shingles recipe), then the _rolling_window_hashes
    O(n) prefix kernel per row — a Python loop only over ROWS, never
    tokens."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def wh(text: pd.Series) -> pd.Series:
        if len(text) == 0:
            return pd.Series([], dtype=object)
        toks = [(t or "").split(" ") for t in text.to_numpy()]
        flat = np.array([w for t in toks for w in t], dtype=object)
        codes, uniq = pd.factorize(flat)
        th = pd.util.hash_array(np.asarray(uniq, dtype=object))[codes]
        out = []
        off = 0
        for t in toks:
            n = len(t)
            h = _rolling_window_hashes(th[off : off + n], k)
            off += n
            out.append(h.view(np.int64).tolist())
        return pd.Series(out)

    return wh


def _cut_and_reassemble_pandas(k: int):
    """(text, sorted-or-null cut positions) -> (n_tokens, n_cut,
    clean_md5): tokens covered by any duplicated window [pos, pos+k-1]
    are removed; coverage is computed with an O(tokens) interval
    diff/cumsum merge, never per-(token, position) scans."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("n_tokens long, n_cut long, clean_md5 string")
    def cut(text: pd.Series, positions: pd.Series) -> pd.DataFrame:
        n_tok, n_cut, md5s = [], [], []
        for t, ps in zip(text.to_numpy(), positions.to_numpy()):
            toks = (t or "").split(" ")
            n = len(toks)
            if ps is None or len(ps) == 0:
                kept = toks
                cut_n = 0
            else:
                diff = np.zeros(n + 1, dtype=np.int64)
                starts = np.asarray(ps, dtype=np.int64)
                np.add.at(diff, starts, 1)
                np.add.at(diff, np.minimum(starts + k, n), -1)
                covered = np.cumsum(diff[:-1]) > 0
                cut_n = int(covered.sum())
                kept = [w for w, c in zip(toks, covered) if not c]
            n_tok.append(n)
            n_cut.append(cut_n)
            md5s.append(hashlib.md5(" ".join(kept).encode("utf-8")).hexdigest())
        return pd.DataFrame(
            {"n_tokens": n_tok, "n_cut": n_cut, "clean_md5": md5s}
        )

    return cut


def exact_substring_dedup(docs: DataFrame, k: int = EXSUB_K) -> DataFrame:
    """Per doc: (doc_id, n_tokens, n_cut, clean_md5) after cutting every
    non-first occurrence of every duplicated >= k-token substring. The
    canonical occurrence of a window is min (doc_id, pos) — the paper's
    keep-one policy with a deterministic global order; a doc repeating a
    passage internally keeps only its first copy (same rule, same code
    path)."""
    from ..operators.dedup import persist_evicting

    # persisted: the exploded window frame feeds BOTH the duplicate-
    # detection agg and the join's probe side — without persistence the
    # plan re-executes the window-hash kernel (the operator's most
    # expensive stage) once per consumer (verified in the executed plan:
    # two ArrowEvalPython[wh(text)] nodes). Same pattern as
    # dedup.py's persisted minhash bands.
    wh = persist_evicting(
        docs.select(
            "doc_id",
            F.posexplode(window_hashes_pandas(k)(F.col("text"))).alias(
                "pos", "wh"
            ),
        )
    )
    agg = wh.groupBy("wh").agg(
        F.min(F.struct("doc_id", "pos")).alias("canon"),
        F.count(F.lit(1)).alias("cnt"),
    )
    dups = (
        wh.join(agg.where(F.col("cnt") > 1), "wh")
        .where(
            ~(
                (F.col("doc_id") == F.col("canon.doc_id"))
                & (F.col("pos") == F.col("canon.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    cuts = dups.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("cut_pos")
    )
    stats = _cut_and_reassemble_pandas(k)
    return (
        docs.join(cuts, "doc_id", "left")
        .withColumn("st", stats(F.col("text"), F.col("cut_pos")))
        .select(
            "doc_id",
            F.col("st.n_tokens").alias("n_tokens"),
            F.col("st.n_cut").alias("n_cut"),
            F.col("st.clean_md5").alias("clean_md5"),
        )
    )


# ---- interpolated bigram LM scoring (KenLM-direction quality proxy) ---------
# One step up the CCNet ladder from unigram_logprob: score each document
# by the mean log-probability of its tokens under an INTERPOLATED bigram
# model fit on the corpus itself — P(w_i) = BIGRAM_LAMBDA * P_mle(w_i |
# w_{i-1}) + (1 - BIGRAM_LAMBDA) * P_uni(w_i), with the first token of a
# document scoring unigram-only (no cross-document context; the
# interpolation term also absorbs unseen bigrams, so every token has
# positive probability without discounting machinery). CCNet proper uses
# a 5-gram KenLM; the
# interpolation-with-backoff-to-unigram shape is the same family at the
# order this corpus supports.
#
# Scale shape (unigram_logprob's, plus one more model pass): the bigram
# model is ONE map-side-combined groupBy(prev, word); the prev column is
# built NATIVELY by zipping the word-id array with its shifted self
# (arrays_zip over slice — no per-doc window, no second shuffle of the
# corpus); scoring is map-side broadcast joins (unigram twice — once for
# the numerator, once for the prev-denominator — and bigram once) plus
# one groupBy(doc_id). The corpus is never shuffled on a word key, and
# prev and word are textops._word_ids_col identities, so the bigram
# shuffle and every broadcast carry int64 keys (scores identical modulo
# the repo-wide 2^-64 collision class).

BIGRAM_LAMBDA = 0.7  # shared with the SQL twin; 7/10 exact in binary? no —
# but both engines compute 0.7 * x + 0.3 * y on float64 from the same
# int/int ratios in the same expression shape, and the graded recipe
# rounds to 6 decimals (the repo-wide round-6 contract).


def _pair_col():
    """(prev, word) word-id structs per document: word-id array zipped
    with its 1-shifted self; the first token pairs with NULL (scores
    unigram-only). Token-free docs (empty/NULL text) yield an empty
    array — guarded explicitly because slice() rejects the n-1 = -1
    length they'd otherwise produce, and arrays_zip would pad a bogus
    (NULL, NULL) token row."""
    ws = _word_ids_col()
    n = F.size(ws)
    prev = F.concat(F.array(F.lit(None).cast("bigint")), F.slice(ws, 1, n - 1))
    return F.when(n > 0, F.arrays_zip(prev.alias("prev"), ws.alias("word"))).otherwise(
        F.array().cast("array<struct<prev:bigint,word:bigint>>")
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_tokens, avg_logprob) under the
    corpus-fit interpolated bigram model. NULL/empty contract: a document
    with no tokens (empty or NULL text) yields no row; every other
    document yields one row with n_tokens = its token count (same
    convention as unigram_logprob)."""
    from ..operators.dedup import persist_evicting

    # persisted: the exploded pair frame feeds FIVE consumers — the
    # unigram agg (broadcast twice: numerator + prev-denominator), the
    # bigram agg, the grand total, and the scored probe side — so without
    # persistence the tokenize+explode subtree re-executes once per
    # consumer (round-5 ADVICE; the round-5 plan sweep missed it because
    # the subtree is native, not a Python kernel). uni is persisted too:
    # it is itself read three times (two broadcasts + the total agg) and
    # is only vocab-sized.
    pairs = persist_evicting(
        docs.select("doc_id", F.explode(_pair_col()).alias("p")).select(
            "doc_id", F.col("p.prev").alias("prev"), F.col("p.word").alias("word")
        )
    )

    uni = persist_evicting(pairs.groupBy("word").agg(F.count(F.lit(1)).alias("cu")))
    big = (
        pairs.where(F.col("prev").isNotNull())
        .groupBy("prev", "word")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    total = uni.agg(F.sum("cu").alias("total"))

    uni_prev = uni.select(F.col("word").alias("prev"), F.col("cu").alias("c_prev"))
    scored = (
        pairs.join(F.broadcast(uni), "word")
        .join(F.broadcast(uni_prev), "prev", "left")
        .join(F.broadcast(big), ["prev", "word"], "left")
        .crossJoin(F.broadcast(total))
    )
    p_uni = F.col("cu") / F.col("total")
    p_big = F.coalesce(F.col("cb"), F.lit(0)) / F.col("c_prev")
    p = F.when(
        F.col("prev").isNull(), p_uni
    ).otherwise(F.lit(BIGRAM_LAMBDA) * p_big + F.lit(1.0 - BIGRAM_LAMBDA) * p_uni)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg(F.log(p)), 6).alias("avg_logprob"),
    )


def bigram_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of bigram_logprob (same tokenization, same model, same
    interpolation) — the graded oracle behind the bigram_logprob registry
    entry (round 6)."""
    return f"""WITH w AS (
  SELECT doc_id, word, pos,
         lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word,
           generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
    FROM {table})),
v AS (SELECT word, count(*) AS cu FROM w GROUP BY word),
vb AS (SELECT prev, word, count(*) AS cb FROM w WHERE prev IS NOT NULL GROUP BY prev, word),
t AS (SELECT sum(cu) AS total FROM v)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln(
         CASE WHEN w.prev IS NULL
              THEN CAST(v.cu AS DOUBLE) / CAST(t.total AS DOUBLE)
              ELSE {BIGRAM_LAMBDA} * (CAST(coalesce(vb.cb, 0) AS DOUBLE) / CAST(vp.cu AS DOUBLE))
                   + {1.0 - BIGRAM_LAMBDA} * (CAST(v.cu AS DOUBLE) / CAST(t.total AS DOUBLE))
         END)), 6) AS avg_logprob
FROM w
JOIN v USING (word)
LEFT JOIN v vp ON vp.word = w.prev
LEFT JOIN vb ON vb.prev = w.prev AND vb.word = w.word
CROSS JOIN t
GROUP BY doc_id"""


# ---- graded exsub fixture + DuckDB twin -------------------------------------
# The driver tables have no natural >= EXSUB_K-token shared substrings, so
# the graded query plants one: a deterministic 40-token passage appended to
# every doc_id % 5 == 3 document (and TWICE to the doc_id % 15 == 3 subset,
# exercising the internal-repeat path — the same keep-first rule cuts the
# second in-document copy). Both engines build the augmented corpus from
# the same shared constants (FIXTURES.md recipe: the operator is graded
# against spans it did not construct).

EXSUB_PASSAGE = " ".join(f"exsubtok{i}" for i in range(40))
EXSUB_PLANT_MOD, EXSUB_PLANT_REM = 5, 3
EXSUB_TWICE_MOD = 15


def augment_with_shared_passages(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, text) with the shared passage
    planted; native CASE only, order matters (%15 is a subset of %5)."""
    p = F.lit(" " + EXSUB_PASSAGE)
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % EXSUB_TWICE_MOD == EXSUB_PLANT_REM,
            F.concat(F.col("text"), p, p),
        )
        .when(
            F.col("doc_id") % EXSUB_PLANT_MOD == EXSUB_PLANT_REM,
            F.concat(F.col("text"), p),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def exsub_oracle_sql(table: str = "documents", k: int = EXSUB_K) -> str:
    """DuckDB twin of exact_substring_dedup over the planted corpus.

    The twin compares window STRINGS where the Spark kernel compares
    64-bit rolling hashes — equal results follow because the hash is a
    deterministic function of the token sequence (same string -> same
    hash) and a cross-string collision over the fixture's ~40k windows
    has probability ~2^-64 * n^2 ~ 1e-10 (same argument as
    chunk_dedup_oracle_sql). Tokenization is split-on-' ' with EMPTIES
    KEPT, matching both exsub UDFs; the canonical occurrence of a
    duplicated window is min (doc_id, pos) via row_number, and coverage
    is the union of [pos, pos+k-1] over non-canonical occurrences."""
    p = EXSUB_PASSAGE
    return f"""WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % {EXSUB_TWICE_MOD} = {EXSUB_PLANT_REM}
                THEN text || ' {p}' || ' {p}'
              WHEN doc_id % {EXSUB_PLANT_MOD} = {EXSUB_PLANT_REM}
                THEN text || ' {p}'
              ELSE text END AS text
  FROM {table}),
toks AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts FROM base),
wins AS (
  SELECT doc_id,
         unnest(range(0, greatest(len(ts) - {k - 1}, 0))) AS pos,
         unnest(list_transform(range(0, greatest(len(ts) - {k - 1}, 0)),
                p -> array_to_string(ts[p + 1 : p + {k}], ' '))) AS w
  FROM toks),
rk AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY w) AS cnt,
         row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
  FROM wins),
cover AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + {k})) AS ti
  FROM rk WHERE cnt > 1 AND rn > 1),
tokpos AS (
  SELECT doc_id, unnest(ts) AS tok,
         CAST(generate_subscripts(ts, 1) - 1 AS BIGINT) AS ti
  FROM toks)
SELECT tp.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(c.ti) AS BIGINT) AS n_cut,
       md5(coalesce(string_agg(tp.tok, ' ' ORDER BY tp.ti)
             FILTER (WHERE c.ti IS NULL), '')) AS clean_md5
FROM tokpos tp
LEFT JOIN cover c ON c.doc_id = tp.doc_id AND c.ti = tp.ti
GROUP BY tp.doc_id"""
