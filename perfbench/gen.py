"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``(seed, size)``: it draws from one
``numpy.random.Generator`` seeded with ``[seed, workload id]`` and writes
plain files (text and parquet) into a fresh directory. The program under
test only ever sees those files. What sets the cost of a job is the same
for every seed: sizes, row counts and file sizes, and the vocabularies
(drawn from a fixed generator, so the reduce keys and the partitions they
hash to do not change). The seed changes the content: which words, rows
and vectors go where.

Each generator returns a ``dict`` of the properties that drive the
workload's behaviour (vocabulary size, Zipf exponent, row counts, planted
duplicate fractions, ...); ``run.py`` records it next to the metrics.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOAD_IDS = {"mr_corpus": 1, "star_sql": 2, "dedup_index": 3}

_ONSETS = (
    "b c d f g h j k l m n p r s t v w z bl br ch cl cr dr fl fr gl gr pl pr sc sh sk "
    "sl sm sn sp st sw th tr wh"
).split()
_VOWELS = "a e i o u ai ea ee ie oa ou".split()
_CODAS = ["", "", "", "n", "r", "s", "t", "l", "m", "nd", "st", "ng", "rk"]


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), WORKLOAD_IDS[workload]])


def _vocab_rng(workload: str) -> np.random.Generator:
    return np.random.default_rng([0, WORKLOAD_IDS[workload], 7])


def _vocabulary(rng: np.random.Generator, n: int, taken: set[str] | None = None) -> list[str]:
    """``n`` distinct lowercase ASCII pseudo-words built from syllables.

    Letters only, so the program's ``\\p{L}+`` tokenizer, Python's
    ``[^\\W\\d_]+`` and DuckDB's regex split all agree on the tokens.
    """
    taken = set() if taken is None else taken
    words: list[str] = []
    while len(words) < n:
        k = 1 + int(rng.choice(3, p=[0.45, 0.4, 0.15]))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(k)
        )
        if w not in taken:
            taken.add(w)
            words.append(w)
    return words


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _write_parquet(path: str, columns: dict[str, pa.Array]) -> int:
    """Write one table without pandas metadata (byte-stable) and return its size."""
    pq.write_table(pa.table(columns), path, compression="snappy")
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# mr_corpus: 8 whole-file texts shaped like Project Gutenberg books
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusSize:
    n_files: int = 8
    min_kb: int = 40
    max_kb: int = 160
    vocab: int = 8000  # shared Zipf vocabulary
    topic_vocab: int = 300  # per-file words, drawn only in that file
    topic_share: float = 0.08  # share of a file's tokens from its topic words
    zipf_s: float = 1.05
    capitalized: int = 200  # most frequent words, capitalized at sentence start


def gen_mr_corpus(out: str, seed: int, size: CorpusSize = CorpusSize()) -> dict:
    """Write ``corpus/pg-<i>.txt`` and the same texts as ``documents.parquet``."""
    rng = _rng(seed, "mr_corpus")
    taken: set[str] = set()
    vrng = _vocab_rng("mr_corpus")
    shared = _vocabulary(vrng, size.vocab, taken)
    topics = [_vocabulary(vrng, size.topic_vocab, taken) for _ in range(size.n_files)]
    p_shared = _zipf_probs(size.vocab, size.zipf_s)
    p_topic = _zipf_probs(size.topic_vocab, size.zipf_s)

    # File sizes are a fixed schedule, interleaved so that small and large
    # files alternate in name order.
    targets = np.linspace(size.min_kb, size.max_kb, size.n_files) * 1024
    targets = targets[np.argsort(np.arange(size.n_files) * 5 % size.n_files)]
    mean_len = float(sum(len(w) * q for w, q in zip(shared, p_shared))) + 1.0

    # Every vocabulary word is planted once (shared words in a file drawn by
    # size, topic words in their own file), so the distinct-word count, the
    # number of reduce keys, is the same for every seed.
    owner = rng.choice(size.n_files, size.vocab, p=targets / targets.sum())
    capitalized = set(shared[: size.capitalized])

    corpus_dir = os.path.join(out, "corpus")
    os.makedirs(corpus_dir)
    texts, names = [], []
    for i, target in enumerate(targets):
        n_tok = int(target / mean_len) + 16
        is_topic = rng.random(n_tok) < size.topic_share
        shared_idx = rng.choice(size.vocab, n_tok, p=p_shared)
        topic_idx = rng.choice(size.topic_vocab, n_tok, p=p_topic)
        toks = [
            topics[i][t] if flag else shared[w]
            for flag, w, t in zip(is_topic, shared_idx, topic_idx)
        ]
        planted = topics[i] + [shared[w] for w in np.flatnonzero(owner == i)]
        for pos, w in zip(rng.choice(n_tok, len(planted), replace=False), planted):
            toks[pos] = w
        sent_len = rng.integers(4, 18, n_tok)
        punct = rng.choice([".", ".", ".", "?", "!", ";"], n_tok)
        lines, line, pos, chapter = [], [], 0, 1
        lines.append(f"CHAPTER {chapter}")
        while pos < n_tok:
            k = int(sent_len[pos])
            sent = toks[pos : pos + k]
            k = len(sent)
            if sent[0] in capitalized:  # only common words start capitalized
                sent[0] = sent[0].capitalize()
            if k > 6:
                sent[k // 2 - 1] += ","
            sent[-1] += punct[pos]
            pos += k
            for w in sent:
                line.append(w)
                if sum(len(x) + 1 for x in line) > 68:
                    lines.append(" ".join(line))
                    line = []
            if rng.random() < 0.004:
                chapter += 1
                if line:
                    lines.append(" ".join(line))
                    line = []
                lines += ["", f"CHAPTER {chapter}"]
        if line:
            lines.append(" ".join(line))
        text = "\n".join(lines) + "\n"
        name = f"pg-{i}.txt"
        with open(os.path.join(corpus_dir, name), "w", encoding="utf-8", newline="\n") as f:
            f.write(text)
        texts.append(text)
        names.append(name)

    doc_bytes = _write_parquet(
        os.path.join(out, "documents.parquet"),
        {
            "doc_id": pa.array(range(size.n_files), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * size.n_files, pa.string()),
            "source": pa.array(names, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )
    import re

    word_re = re.compile(r"[^\W\d_]+")
    per_file = [set(word_re.findall(t)) for t in texts]
    counts: dict[str, int] = {}
    for ws in per_file:
        for w in ws:
            counts[w] = counts.get(w, 0) + 1
    text_bytes = sum(len(t.encode()) for t in texts)
    return {
        "files": size.n_files,
        "file_kb_range": [size.min_kb, size.max_kb],
        "text_bytes": text_bytes,
        "input_bytes": text_bytes + doc_bytes,
        "vocab_shared": size.vocab,
        "vocab_topic_per_file": size.topic_vocab,
        "zipf_s": size.zipf_s,
        "distinct_words": len(counts),
        "share_words_in_2plus_files": round(
            sum(1 for c in counts.values() if c >= 2) / max(1, len(counts)), 4
        ),
    }


# --------------------------------------------------------------------------
# star_sql: TPC-H-shaped star schema + events
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class StarSize:
    sf: float = 0.03


_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PWORDS = "almond blue hot large ring bolt cream green steel lace red metal".split()
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_US_PER_DAY = 86_400 * 1_000_000


def _days_to_ts(days: np.ndarray, base: dt.date) -> pa.Array:
    epoch = (base - dt.date(1970, 1, 1)).days
    return pa.array((days.astype(np.int64) + epoch) * _US_PER_DAY, pa.timestamp("us"))


def gen_star_sql(out: str, seed: int, size: StarSize = StarSize()) -> dict:
    """Write region, nation, customer, supplier, part, orders, lineitem and
    events parquet files with the value domains of the driver fixtures."""
    rng = _rng(seed, "star_sql")
    n_cust = int(150_000 * size.sf)
    n_supp = int(10_000 * size.sf)
    n_part = int(200_000 * size.sf)
    n_ord = int(1_500_000 * size.sf)
    n_evt = int(1_000_000 * size.sf)
    n_user = max(10, int(15_000 * size.sf))
    nbytes = 0

    nbytes += _write_parquet(
        os.path.join(out, "region.parquet"),
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
    )
    nbytes += _write_parquet(
        os.path.join(out, "nation.parquet"),
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    nbytes += _write_parquet(
        os.path.join(out, "customer.parquet"),
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
        },
    )
    nbytes += _write_parquet(
        os.path.join(out, "supplier.parquet"),
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        },
    )
    pw = np.array(_PWORDS)
    nbytes += _write_parquet(
        os.path.join(out, "part.parquet"),
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(pw[rng.integers(0, len(pw), n_part)], " "),
                    pw[rng.integers(0, len(pw), n_part)],
                )
            ),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
        },
    )

    # Orders span 1995-01-01 .. 2001-08-01 like the fixtures.
    order_days = rng.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1, n_ord)
    nbytes += _write_parquet(
        os.path.join(out, "orders.parquet"),
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days_to_ts(order_days, dt.date(1995, 1, 1)),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
        },
    )

    # 1..7 lines per order (mean 4), so lineitem ~= 4x orders.
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    l_num = np.arange(n_li) - starts + 1
    nbytes += _write_parquet(
        os.path.join(out, "lineitem.parquet"),
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(money(900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _days_to_ts(
                order_days[l_order] + rng.integers(1, 95, n_li), dt.date(1995, 1, 1)
            ),
        },
    )

    # Events: 30 days from 2024-01-01, microsecond timestamps, ids in ts order.
    offs = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt))
    base_us = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
    nbytes += _write_parquet(
        os.path.join(out, "events.parquet"),
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(base_us + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt).clip(0, 560), 2)),
            "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}")),
        },
    )
    return {
        "sf": size.sf,
        "input_bytes": nbytes,
        "rows": {
            "region": 5,
            "nation": 25,
            "customer": n_cust,
            "supplier": n_supp,
            "part": n_part,
            "orders": n_ord,
            "lineitem": n_li,
            "events": n_evt,
            "event_users": n_user,
        },
    }


# --------------------------------------------------------------------------
# dedup_index: documents with planted near-duplicate clusters + embeddings
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class DedupSize:
    n_docs: int = 600
    dup_fraction: float = 0.3  # share of docs that are edited copies
    max_cluster: int = 4  # copies per planted cluster: 1..max_cluster
    vocab: int = 3000
    zipf_s: float = 1.0
    min_words: int = 40
    max_words: int = 90
    edits: int = 3  # word substitutions/insertions/deletions per copy
    n_vectors: int = 800
    n_centroids: int = 24
    near_dup_vectors: float = 0.3  # share of vectors that are jittered copies
    jitter: float = 0.05


_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _edit(rng: np.random.Generator, words: list[str], vocab: list[str], p: np.ndarray, n: int) -> list[str]:
    out = list(words)
    for _ in range(n):
        op = rng.integers(3)
        i = int(rng.integers(len(out)))
        w = vocab[rng.choice(len(vocab), p=p)]
        if op == 0:
            out[i] = w
        elif op == 1:
            out.insert(i, w)
        elif len(out) > 12:
            del out[i]
    return out


def gen_dedup_index(out: str, seed: int, size: DedupSize = DedupSize()) -> dict:
    """Write ``documents.parquet`` (with planted near-duplicate clusters) and
    ``embeddings.parquet`` (64-d unit vectors around planted centroids)."""
    rng = _rng(seed, "dedup_index")
    vocab = _vocabulary(_vocab_rng("dedup_index"), size.vocab)
    p = _zipf_probs(size.vocab, size.zipf_s)

    n_copies = int(size.n_docs * size.dup_fraction)
    n_base = size.n_docs - n_copies
    texts: list[list[str]] = []
    for _ in range(n_base):
        n = int(rng.integers(size.min_words, size.max_words + 1))
        texts.append([vocab[i] for i in rng.choice(size.vocab, n, p=p)])
    # Planted clusters: each picks a distinct base doc and gets 1..max copies,
    # cycling through the sizes so every seed plants the same cluster shapes.
    clusters, made = 0, 0
    bases = rng.permutation(n_base)
    while made < n_copies:
        base = texts[int(bases[clusters])]
        k = min(1 + clusters % size.max_cluster, n_copies - made)
        for _ in range(k):
            texts.append(_edit(rng, base, vocab, p, size.edits))
        made += k
        clusters += 1
    order = rng.permutation(size.n_docs)  # copies land anywhere in doc_id order
    docs = [" ".join(texts[j]) for j in order]
    src = rng.integers(0, 20, size.n_docs)
    nbytes = _write_parquet(
        os.path.join(out, "documents.parquet"),
        {
            "doc_id": pa.array(np.arange(size.n_docs), pa.int64()),
            "text": pa.array(docs, pa.string()),
            "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), size.n_docs)]),
            "source": pa.array(np.char.add("src", src.astype(str))),
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        },
    )

    dim = 64
    cents = rng.normal(size=(size.n_centroids, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    owner = np.arange(size.n_vectors) % size.n_centroids  # equal planted clusters
    near = rng.random(size.n_vectors) < size.near_dup_vectors
    noise = np.where(near[:, None], size.jitter, 0.6) * rng.normal(size=(size.n_vectors, dim)) / np.sqrt(dim)
    vecs = cents[owner] + noise
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    nbytes += _write_parquet(
        os.path.join(out, "embeddings.parquet"),
        {
            "vec_id": pa.array(np.arange(size.n_vectors), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(owner % 10, pa.int32()),
        },
    )
    return {
        "input_bytes": nbytes,
        "docs": size.n_docs,
        "near_dup_fraction": size.dup_fraction,
        "planted_clusters": clusters,
        "edits_per_copy": size.edits,
        "vocab": size.vocab,
        "zipf_s": size.zipf_s,
        "vectors": size.n_vectors,
        "planted_centroids": size.n_centroids,
        "near_dup_vector_fraction": size.near_dup_vectors,
    }


GENERATORS = {
    "mr_corpus": (gen_mr_corpus, CorpusSize),
    "star_sql": (gen_star_sql, StarSize),
    "dedup_index": (gen_dedup_index, DedupSize),
}
