"""The end-to-end corpus-curation pipeline: clean → dedup → decontaminate
→ resample → export, composed as ONE Spark plan and graded on the WRITTEN
artifact (per-shard stats read back from the exported JSONL), not on any
intermediate — the composition a real 100 TB curation run executes
nightly.

Every stage is an operator that is individually driver-graded elsewhere
(dedup_exact, corpus_curation's quality gate, decontaminate_ngrams,
importance_resample, export_training_shards); this module chains them with
zero new semantics, so the composed DuckDB oracle is the composition of
their proven SQL recipes (md5 text grading, int/int ratios, round-6
doubles, deterministic hash gate).

Scale shape of the composition — no stage undoes another's partitioning
discipline:
  1. exact dedup: one map-side-combined groupBy(md5) + id join;
  2. quality gate: pure map-side predicates (native word/stopword counts);
  3. decontamination: eval 8-gram set (tiny vs the corpus) broadcast
     against the train side — the corpus is never shuffled on the gram
     key; the contaminated-id set joins back LEFT ANTI;
  4. DSIR resampling: one map-side-combined vocabulary aggregate over
     the SURVIVORS carrying both word models (models fit on what remains
     — resampling the corpus being exported, not the raw crawl), the
     vocabulary broadcast, one per-doc aggregate, deterministic
     integer-hash accept gate (rerunnable, backfill-stable);
  5. export: pass 1 = one scalar token sum, pass 2 = shard-hash
     partitioned write. No global sort, no driver loop, no collect.

Reference lineage: the reference has no curation layer (its sink is a
logging loop, cmd/main.go:41-73); this is the brief's training-data
composition over the operators that generalize it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cleanops import (
    DSIR_HASH_A,
    DSIR_HASH_C,
    DSIR_HASH_M,
    DSIR_TARGET_LANG,
    _md5_utf8,
    dsir_doc_scores,
)
from ..operators.textops import (
    DECONTAM_EVAL_MOD,
    DECONTAM_NGRAM,
    _words_col,
    decontaminate,
)

# Quality-gate thresholds (shared with the SQL oracle; int/int double
# ratio so the <= comparison is exact cross-engine).
CURATION_MIN_TOKENS = 10
CURATION_MAX_STOP_RATIO = 0.3


def curate_corpus(docs: DataFrame) -> DataFrame:
    """clean → dedup → decontaminate → resample over (doc_id, lang, text);
    returns the surviving sampled documents (doc_id, lang, text).

    Stage order note: the eval split (doc_id % DECONTAM_EVAL_MOD == 0) is
    excluded from the TRAINING corpus at the gate stage, but its n-gram
    set is computed over the FULL corpus — eval contamination must be
    judged against everything the eval split contains, not just what
    survived earlier stages."""
    # 1) exact dedup: canonical representative = min doc_id per text hash
    keep = (
        docs.groupBy(_md5_utf8(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # 2) quality gate (native counts) + eval-split exclusion; the words
    # array is staged as its own projection (the text_stats lesson: the
    # inline form re-split the text once per reference)
    gated = (
        docs.join(keep, "doc_id")
        .select("doc_id", "lang", "text", _words_col().alias("ws"))
        .select(
            "doc_id",
            "lang",
            "text",
            "ws",
            F.filter(
                F.col("ws"), lambda x: (x == "the") | (x == "a")
            ).alias("stops"),
        )
        .select(
            "doc_id",
            "lang",
            "text",
            F.size("ws").alias("n_tokens"),
            (F.size("stops").cast("double") / F.size("ws")).alias("stop_ratio"),
        )
        .where(
            (F.col("n_tokens") >= CURATION_MIN_TOKENS)
            & (F.col("stop_ratio") <= CURATION_MAX_STOP_RATIO)
            & (F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
        )
        .select("doc_id", "lang", "text")
    )
    # 3) decontaminate: drop gated docs sharing any eval 8-gram
    contaminated = decontaminate(docs).select("doc_id")
    # persisted: the survivor frame feeds the DSIR vocabulary pass, the
    # per-doc scoring pass, AND the final join (plus the export's
    # token-sum + write actions downstream) — without persistence the
    # whole upstream (md5-dedup shuffle, quality gate, 8-gram
    # decontamination) re-executes once per consumer. Survivors are the
    # natural persist point at scale too: far smaller than the raw
    # corpus, reused by every later stage of a nightly run.
    from ..operators.dedup import persist_evicting

    surv = persist_evicting(gated.join(contaminated, "doc_id", "left_anti"))
    # 4) DSIR resample over the survivors
    sampled = dsir_doc_scores(surv).where("sampled").select("doc_id")
    return surv.join(sampled, "doc_id")


def run_curation_export(
    spark: SparkSession, docs: DataFrame, out_dir: str
) -> DataFrame:
    """Full pipeline: curate, export token-budgeted shards, grade the
    artifact — returns read-back per-shard stats (shard, n_docs,
    shard_tokens)."""
    from .export import read_shard_stats, write_training_shards

    write_training_shards(curate_corpus(docs), out_dir)
    return read_shard_stats(spark, out_dir)


def curation_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of the COMPOSED pipeline — the same five stages over
    the same constants, ending in the analytic shard stats the written
    artifact must reproduce."""
    from .export import TOKENS_PER_SHARD_DEFAULT

    n = DECONTAM_NGRAM
    mod = DECONTAM_EVAL_MOD
    budget = TOKENS_PER_SHARD_DEFAULT
    return f"""WITH dd AS (
  SELECT min(doc_id) AS doc_id FROM {table} GROUP BY md5(text)),
bw AS (
  SELECT d.doc_id, d.lang, d.text,
         list_filter(string_split(d.text, ' '), x -> x <> '') AS ws
  FROM {table} d JOIN dd USING (doc_id)),
gated AS (
  SELECT doc_id, lang, ws
  FROM bw
  WHERE len(ws) >= {CURATION_MIN_TOKENS}
    AND CAST(len(list_filter(ws, x -> x = 'the' OR x = 'a')) AS DOUBLE)
        / len(ws) <= {CURATION_MAX_STOP_RATIO}
    AND doc_id % {mod} <> 0),
aw AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM {table}),
ng AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)-{n - 2}),
                               i -> array_to_string(ws[i:i+{n - 1}], ' '))) AS g
  FROM aw),
ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % {mod} = 0),
cont AS (
  SELECT DISTINCT ng.doc_id FROM ng JOIN ev USING (g)
  WHERE ng.doc_id % {mod} <> 0),
surv AS (
  SELECT g.doc_id, g.lang, g.ws FROM gated g
  LEFT JOIN cont c USING (doc_id) WHERE c.doc_id IS NULL),
w AS (SELECT doc_id, lang, unnest(ws) AS word FROM surv),
ca AS (SELECT word, count(*) AS c_all FROM w GROUP BY word),
ct AS (SELECT word, count(*) AS c_tgt FROM w
       WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY word),
v AS (SELECT ca.word, c_all, coalesce(c_tgt, 0) AS c_tgt
      FROM ca LEFT JOIN ct USING (word)),
k AS (SELECT sum(c_all) AS n_all, sum(c_tgt) AS n_tgt, count(*) AS nv FROM v),
pd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(ln(CAST(c_tgt + 1 AS DOUBLE) / (n_tgt + nv))
                   - ln(CAST(c_all AS DOUBLE) / n_all)), 6) AS score
  FROM w JOIN v USING (word) CROSS JOIN k
  GROUP BY doc_id),
samp AS (
  SELECT doc_id, n_tokens FROM pd
  WHERE round(ln(CAST(((doc_id * {DSIR_HASH_A} + {DSIR_HASH_C})
                       % {DSIR_HASH_M}) + 1 AS DOUBLE)
               / {DSIR_HASH_M}), 6) < score),
tot AS (
  SELECT CAST(ceil(CAST(sum(n_tokens) AS DOUBLE) / {budget}) AS BIGINT) AS ns
  FROM samp)
SELECT CAST(doc_id % ns AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
FROM samp CROSS JOIN tot GROUP BY doc_id % ns"""
