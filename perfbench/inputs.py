"""Seeded inputs. The program sees only the parquet files written here.

Daily corpus: flat (doc_id, text) documents shaped like the sf0.1
``documents`` table (10-100 words over a 31-word vocabulary), amplified
into ``COPIES`` salted copies as bench.py's curate soak does: every
third word carries a per-copy letter salt, so copies never near-dup
each other and duplicate density stays that of the base corpus. A few
percent of base docs are exact or one-word near copies of another, so
dedup has clusters to find, and some carry an email or phone number
for the PII scrub. The engine's own ``synthesize_spans`` turns a day's
documents into its nested span table.

Day 0 is a fixed base corpus (``BASE_SEED``): its artifacts are built
once per checkout and restored for every day-1 run. Day 1 derives
from day 0 with the run seed: ~1% deleted, ~5% one-word edits, ~2%
rewrites that keep their doc_id, ~5% new docs with salts day 0 never
used.

Skewed corpus: ``ocr_spark.fixtures.generate_corpus`` (log-normal
sizes, 1% giants, 10% empty, 2% malformed) at a fixed generator seed,
so every run does the same kernel work; the run seed relabels doc ids
(which moves the giants between hash buckets) and row order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window a index"
).split()
COPIES = 8
ID_STRIDE = 10_000_000
PII = ["alice.{j}@example.com", "bob{j}@mail.example.org", "555-{p:03d}-{q:04d}"]

BASE_SEED = 0
SKEW_SHAPE_SEED = 42


def _salt(k: int) -> str:
    return "abcdefghijklmnopqrstuvwxyz"[k % 26] * (1 + k // 26)


def _base_words(rng: np.random.Generator, n: int) -> list[np.ndarray]:
    lens = rng.integers(10, 101, n)
    flat = rng.integers(0, len(VOCAB), int(lens.sum()))
    return np.split(flat, np.cumsum(lens)[:-1])


def _render(words: np.ndarray, k: int, pii: str | None) -> str:
    salt = _salt(k)
    toks = [VOCAB[w] + salt if i % 3 == 0 else VOCAB[w] for i, w in enumerate(words)]
    if pii is not None:
        toks.insert(len(toks) // 2, pii)
    return " ".join(toks)


def day0_docs(n_docs: int) -> dict:
    """{doc_id: (words, copy, pii)} for the fixed day-0 corpus."""
    rng = np.random.default_rng([BASE_SEED, 0])
    n_base = n_docs // COPIES
    base = _base_words(rng, n_base)
    # 3% exact copies and 3% one-word near copies of another base doc
    src = rng.integers(0, n_base, n_base)
    roll = rng.random(n_base)
    for j in range(n_base):
        if roll[j] < 0.03:
            base[j] = base[src[j]].copy()
        elif roll[j] < 0.06:
            w = base[src[j]].copy()
            w[rng.integers(0, len(w))] = rng.integers(0, len(VOCAB))
            base[j] = w
    has_pii = rng.random((COPIES, n_base)) < 0.05
    docs = {}
    for k in range(COPIES):
        for j in range(n_base):
            pii = None
            if has_pii[k, j]:
                pii = PII[(j + k) % 3].format(j=j, p=j % 1000, q=(j * 7 + k) % 10000)
            docs[k * ID_STRIDE + j] = (base[j], k, pii)
    return docs


def day1_docs(seed: int, day0: dict) -> tuple[dict, dict]:
    """Day-1 corpus from day 0 and the ids of each kind of change."""
    rng = np.random.default_rng([seed, 1])
    ids = np.array(sorted(day0))
    roll = rng.random(len(ids))
    deleted = ids[roll < 0.01].tolist()
    edited = ids[(roll >= 0.01) & (roll < 0.06)].tolist()
    rewritten = ids[(roll >= 0.06) & (roll < 0.08)].tolist()
    gone = set(deleted)
    docs = {i: day0[i] for i in ids.tolist() if i not in gone}
    for i in edited:
        # one unsalted word changes to a different vocabulary word
        words, k, pii = docs[i]
        w = words.copy()
        pos = int(rng.integers(0, len(w)))
        w[pos] = (w[pos] + rng.integers(1, len(VOCAB))) % len(VOCAB)
        docs[i] = (w, k, pii)
    fresh = _base_words(rng, len(rewritten))
    for i, w in zip(rewritten, fresh):
        docs[i] = (w, docs[i][1], None)
    n_new = int(round(0.05 * len(ids)))
    new_words = _base_words(rng, n_new)
    new_ids = []
    for j, w in enumerate(new_words):
        k = COPIES + j % 4  # salts day 0 never used
        doc_id = k * ID_STRIDE + j
        docs[doc_id] = (w, k, None)
        new_ids.append(doc_id)
    changes = {
        "deleted": deleted,
        "edited": edited,
        "rewritten": rewritten,
        "new": new_ids,
    }
    return docs, changes


def write_docs(docs: dict, path: str) -> None:
    ids = sorted(docs)
    texts = [_render(*docs[i]) for i in ids]
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)})
    pq.write_table(table, path)


def write_spans(spark, docs_path: str, spans_path: str) -> int:
    """The day's nested span table, derived by the engine's own
    synthesizer; returns the number of docs."""
    from ocr_spark.sources.synth import synthesize_spans

    docs = spark.read.parquet(docs_path)
    synthesize_spans(docs).repartition(2 * spark.sparkContext.defaultParallelism) \
        .write.mode("overwrite").parquet(spans_path)
    return pq.ParquetFile(docs_path).metadata.num_rows


N_QUERIES = 4  # measured, of each kind
WARMUP_QUERIES = 4  # of each kind, run first and not timed


def queries(seed: int, day0: dict) -> tuple[list[list[str]], list[list[str]]]:
    """Three-term BM25 queries over the day-0 vocabulary and two-term
    phrase queries taken from adjacent words of day-0 docs."""
    rng = np.random.default_rng([seed, 2])
    ids = sorted(day0)
    vocab = sorted({t for i in ids[:: max(1, len(ids) // 500)] for t in _render(*day0[i]).split()})
    # the index only holds alphanumeric terms of length >= 2
    vocab = [t for t in vocab if t.isalpha() and len(t) > 1]
    n = WARMUP_QUERIES + N_QUERIES
    bm25 = [[vocab[j] for j in rng.choice(len(vocab), 3, replace=False)] for _ in range(n)]
    phrase = []
    while len(phrase) < n:
        toks = _render(*day0[ids[rng.integers(0, len(ids))]]).split()
        p = int(rng.integers(0, len(toks) - 1))
        if all(t.isalpha() and len(t) > 1 for t in toks[p : p + 2]):
            phrase.append([toks[p], toks[p + 1]])
    return bm25, phrase


# -- skewed corpus ------------------------------------------------------------


SKEW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)


def skewed_shape(cache_dir: str, n_docs: int) -> pa.Table:
    """generate_corpus at the fixed shape seed, cached across runs in
    the checkout (it is per-row Python, ~5 ms per doc)."""
    path = os.path.join(cache_dir, f"skewed-{n_docs}-{SKEW_SHAPE_SEED}.parquet")
    if not os.path.exists(path):
        from ocr_spark.fixtures import generate_corpus

        rows = generate_corpus(n_docs=n_docs, seed=SKEW_SHAPE_SEED)
        table = pa.Table.from_pylist(rows, schema=SKEW_SCHEMA)
        tmp = path + f".{os.getpid()}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return pq.read_table(path)


def write_skewed(seed: int, cache_dir: str, n_docs: int, path: str) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    shape = skewed_shape(cache_dir, n_docs)
    order = rng.permutation(shape.num_rows)
    labels = rng.permutation(10 * shape.num_rows)[: shape.num_rows]
    table = shape.take(pa.array(order)).set_column(
        0, "doc_id", pa.array([f"doc-{x:08d}" for x in labels], pa.string())
    )
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // 8)
    for i in range(8):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
    return table
