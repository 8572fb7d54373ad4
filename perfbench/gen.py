"""Seeded input generator for the benchmark.

Every input the program sees is built here from the workload seed, so an
edit to the program (including its own `synth.py` fixture generator)
cannot change the corpus a benchmark number was measured on. The page
grammar is the one the program parses: a `<meta lang>` header, 1-5
`\\xc2\\xa7EVT|type|payload\\xc2\\xa7` event records, then the body text,
inside `<body>...</body>`. Fixtures that exercise the error paths are drawn
at fixed rates: empty html (parse error), lang 'unknown' (no routing-dim
row), zh traffic to the dim's dark hosts h090..h098 (composite-key miss),
and invalid UTF-8 bytes spliced into the body (bytes must round-trip).

Alongside each page table the generator returns a *spec*: per page the
routing keys and the event types it embedded. The oracle computes expected
per-sink counts from the spec alone, never from the html.
"""

from __future__ import annotations

import datetime as dt
import zlib

import numpy as np
import pyarrow as pa

GEN_VERSION = 1

# The routing dimension the program builds covers these languages and hosts
# h000..h098; zh traffic to hosts >= 90 is deliberately absent from it.
KNOWN_LANGS = ("en", "de", "fr", "es", "ja", "zh")
LANG_WEIGHTS = (0.40, 0.13, 0.13, 0.12, 0.10, 0.12)
N_HOSTS = 99
ZH_DARK_HOST_MIN = 90
HOST_ZIPF_S = 1.2

UNKNOWN_LANG_P = 1 / 37
EMPTY_HTML_P = 1 / 101
INVALID_UTF8_P = 1 / 103
INVALID_BYTES = b"\xff\xfe\xfd"
EVENT_TYPES = ("write", "update", "delete", "rotate")
MAX_EVENTS = 5
MARK = b"\xc2\xa7"
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

WORDS = (
    "spark batch line column order small sort fast value scan hash slow group "
    "agg filter query big key window row part table stream merge data join "
    "vector customer plan shard token index cache page host route sink event "
    "parse frame byte lake file log commit offset state replay schema"
).split()
STOPWORDS = ("the", "a")

# Curation corpus: the eval split is doc_id % 89 == 0 (the program's
# decontamination split); replica strides keep that membership.
DECONTAM_EVAL_MOD = 89

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def rng_for(seed: int, workload: str) -> np.random.Generator:
    """One independent stream per (seed, workload)."""
    return np.random.default_rng([int(seed), zlib.crc32(workload.encode())])


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """n space-joined texts of lo..hi words each (stopwords included).

    The word distribution is fixed (Zipf over the list order), so corpus
    bytes per page do not drift with the seed; only the draws are seeded."""
    vocab = np.array(WORDS + list(STOPWORDS), dtype=object)
    probs = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    probs /= probs.sum()
    k = rng.integers(lo, hi + 1, size=n)
    idx = rng.choice(len(vocab), size=int(k.sum()), p=probs)
    ends = np.cumsum(k)
    starts = ends - k
    return [" ".join(vocab[idx[s:e]]) for s, e in zip(starts, ends)]


def gen_pages(
    rng: np.random.Generator,
    n: int,
    first_id: int = 0,
    texts_per_page: int = 1,
    words: tuple[int, int] = (40, 100),
) -> tuple[pa.Table, pa.Table]:
    """(pages, spec) for n pages with doc ids first_id .. first_id+n-1.

    texts_per_page > 1 concatenates several document texts into one body
    (the large-page corpus). spec columns: doc_id, url, lang, host_id,
    empty_html, event_types (list<string>), text_len (body text bytes).
    """
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ranks_p = 1.0 / np.arange(1, N_HOSTS + 1) ** HOST_ZIPF_S
    ranks = rng.choice(N_HOSTS, size=n, p=ranks_p / ranks_p.sum())
    host = rng.permutation(N_HOSTS)[ranks]  # which host is hottest is seeded
    lang_idx = rng.choice(len(KNOWN_LANGS), size=n, p=LANG_WEIGHTS)
    langs = np.array(KNOWN_LANGS, dtype=object)[lang_idx]
    langs[rng.random(n) < UNKNOWN_LANG_P] = "unknown"
    empty = rng.random(n) < EMPTY_HTML_P
    bad = rng.random(n) < INVALID_UTF8_P
    n_ev = rng.integers(1, MAX_EVENTS + 1, size=n)
    ev_codes = rng.integers(0, len(EVENT_TYPES), size=int(n_ev.sum()))
    source = rng.integers(0, 20, size=n)
    texts = _texts(rng, n * texts_per_page, *words)
    if texts_per_page > 1:
        texts = [
            " ".join(texts[i : i + texts_per_page])
            for i in range(0, len(texts), texts_per_page)
        ]

    urls, htmls, ev_lists, text_lens = [], [], [], []
    pos = 0
    for i in range(n):
        d = int(ids[i])
        urls.append(f"https://h{int(host[i]):03d}.example.com/src{int(source[i])}/{d}")
        types = [EVENT_TYPES[c] for c in ev_codes[pos : pos + n_ev[i]]]
        pos += int(n_ev[i])
        tb = texts[i].encode("utf-8")
        if bad[i]:
            tb = tb[:10] + INVALID_BYTES + tb[10:]
        if empty[i]:
            htmls.append(b"")
            ev_lists.append([])
            text_lens.append(0)
            continue
        parts = [b'<html><head><meta lang="', langs[i].encode("ascii"), b'"></head><body>']
        for seq, et in enumerate(types):
            payload = f"k1={d};k2={seq}"
            if et == "update":
                payload += f";old={(d * 31 + seq * 7) % 1000};new={(d * 31 + seq * 7 + 7) % 1000}"
            parts.append(MARK + b"EVT|" + et.encode("ascii") + b"|" + payload.encode("ascii") + MARK)
        parts.append(tb)
        parts.append(b"</body></html>")
        htmls.append(b"".join(parts))
        ev_lists.append(types)
        text_lens.append(len(tb))

    epoch_us = int(EPOCH.timestamp()) * 1_000_000
    ts = pa.array(epoch_us + ids * 1_000_000, pa.int64()).cast(
        pa.timestamp("us", tz="UTC")
    )
    pages = pa.table(
        [pa.array(urls), ts, pa.array(htmls, pa.binary()), pa.array(texts), pa.array(list(langs))],
        schema=PAGES_SCHEMA,
    )
    spec = pa.table(
        {
            "doc_id": ids,
            "url": urls,
            "lang": list(langs),
            "host_id": host.astype(np.int32),
            "empty_html": empty,
            "event_types": pa.array(ev_lists, pa.list_(pa.string())),
            "text_len": np.array(text_lens, dtype=np.int64),
        }
    )
    return pages, spec


def page_props(pages: pa.Table, spec: pa.Table) -> dict:
    """Corpus properties recorded with every result."""
    n = spec.num_rows
    host = spec.column("host_id").to_numpy()
    html_bytes = sum(len(b) for b in pages.column("html").to_pylist() if b)
    words = set()
    for t in pages.column("text").to_pylist()[:2000]:
        words.update(t.split())
    return {
        "pages": n,
        "html_mb": round(html_bytes / 1e6, 3),
        "mean_body_bytes": round(float(spec.column("text_len").to_numpy().mean()), 1),
        "events_per_page": round(
            sum(len(e) for e in spec.column("event_types").to_pylist()) / n, 3
        ),
        "hot_host": f"h{int(np.bincount(host, minlength=N_HOSTS).argmax()):03d}",
        "hot_host_share": round(float(np.bincount(host).max() / n), 4),
        "vocab_words": len(words),
    }


def gen_documents(
    rng: np.random.Generator, base_n: int, replicas: int
) -> pa.Table:
    """Curation corpus: base_n seeded documents, replicated `replicas` times.

    The base corpus plants what the curation stages select on: short docs
    and stopword-heavy docs (quality gate), exact duplicate texts (dedup),
    and train docs carrying a 10-word span of an eval doc (decontamination).
    Replica r renames every non-stopword w to f"{w}{r}", so each replica
    keeps the base corpus's selectivity while the vocabulary, and with it
    the DSIR models and the eval n-gram set, grows with the corpus.
    """
    texts = _texts(rng, base_n, 20, 120)
    short = rng.random(base_n) < 0.06
    for i in np.flatnonzero(short):
        texts[i] = " ".join(texts[i].split()[: int(rng.integers(3, 10))])
    stoppy = rng.random(base_n) < 0.08
    for i in np.flatnonzero(stoppy):
        ws = texts[i].split()
        texts[i] = " ".join(w if j % 2 else "the" for j, w in enumerate(ws))
    eval_ids = [i for i in range(0, base_n, DECONTAM_EVAL_MOD) if len(texts[i].split()) >= 12]
    for i in range(base_n):
        if i % DECONTAM_EVAL_MOD == 0:
            continue
        u = rng.random()
        if u < 0.02 and i > 0:  # exact duplicate of an earlier doc
            texts[i] = texts[int(rng.integers(0, i))]
        elif u < 0.05 and eval_ids:  # contaminated by an eval span
            src = texts[eval_ids[int(rng.integers(0, len(eval_ids)))]].split()
            s = int(rng.integers(0, len(src) - 10 + 1))
            texts[i] = texts[i] + " " + " ".join(src[s : s + 10])
    langs = rng.choice(["en", "de", "fr", "es", "zh"], size=base_n).tolist()
    sources = [f"src{j}" for j in rng.integers(0, 20, size=base_n)]

    stride = DECONTAM_EVAL_MOD * (base_n // DECONTAM_EVAL_MOD + 1)
    stop = set(STOPWORDS)
    ids, out_t, out_l, out_s = [], [], [], []
    for r in range(replicas):
        for i, t in enumerate(texts):
            ids.append(i + r * stride)
            out_t.append(
                t if r == 0 else " ".join(w if w in stop else f"{w}{r}" for w in t.split(" "))
            )
            out_l.append(langs[i])
            out_s.append(sources[i])
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": out_t,
            "lang": out_l,
            "source": out_s,
        }
    )


def doc_props(docs: pa.Table) -> dict:
    texts = docs.column("text").to_pylist()
    vocab: set[str] = set()
    for t in texts:
        vocab.update(t.split())
    return {
        "docs": docs.num_rows,
        "text_mb": round(sum(len(t) for t in texts) / 1e6, 3),
        "mean_words": round(sum(len(t.split()) for t in texts) / len(texts), 1),
        "vocab_words": len(vocab),
        "distinct_texts": len(set(texts)),
    }
