"""The workloads: the day-1 leg of the README daily loop, and the
resumable extraction job on a skewed corpus.

Every job runs through its public ``main()`` in this process, so the
JVM is launched once while each job still creates and stops its own
SparkSession. Calls are a closed loop with one client.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import harness
import inputs

DAILY_DOCS = 2_000
SKEW_DOCS = 2_000
SKEW_BUCKETS, SKEW_PER_COMMIT = 16, 4
# 16 index buckets for a 2k-doc corpus: the job's default 64 would
# leave most bucket files a few KB
INDEX_BUCKETS = 16
SPLIT = "train=0.98,val=0.01,test=0.01"
FLAT = ("doc_id", "kind", "text", "media_ref", "offset")
REINDEXED = "reindexed-doc-id"  # the documented known defect, see NOTES.md
STAND_IN = "dup:"  # prefix of the stand-in ids bm25_doubled gives day-1 copies


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    per-layer values; a no-op unless enabled."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.metrics: dict[str, float] = {}
        self.eventlogs: dict[str, list[str]] = {}
        self._stack: list[str] = []

    def span(self, name: str):
        return _Span(self, name)

    def put(self, name: str, value) -> None:
        if self.enabled:
            self.metrics[name] = float(value)


class _Span:
    def __init__(self, tr: Tracer, name: str):
        self.tr, self.name = tr, name

    def __enter__(self):
        self.t0 = time.time()
        if self.tr.enabled:
            self.parent = self.tr._stack[-1] if self.tr._stack else None
            self.tr._stack.append(self.name)
        return self

    def __exit__(self, *exc):
        self.t1 = time.time()
        if self.tr.enabled:
            self.tr._stack.pop()
            self.tr.spans.append({"name": self.name, "start": self.t0, "end": self.t1,
                                  "parent": self.parent, "run_id": self.tr.run_id})

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Ctx:
    def __init__(self, env, seed: int, seconds: float, ledger, tracer):
        self.env = env
        self.root = env.root
        self.seed = seed
        self.seconds = seconds
        self.ledger = ledger
        self.tr = tracer

    def job(self, name: str, argv: list[str], label: str) -> dict:
        """One job call = one operation. With tracing on, the event
        logs that appear during the call belong to it."""
        with self.tr.span(f"job.{label}") as sp, self.eventlogs(label):
            summary = self.ledger.op(f"job.{name}", harness.call_job, self.root, name,
                                     [*argv, "--master", harness.master()])
        if summary is None:
            raise harness.JobFailed(f"job {name} failed: {self.ledger.unexplained[-1]}")
        summary["_seconds"] = sp.seconds
        return summary

    @contextlib.contextmanager
    def eventlogs(self, label: str):
        """With tracing on, files the event log gains inside the block
        are recorded under ``label``."""
        d = self.env.eventlog
        before = set(os.listdir(d)) if self.tr.enabled else set()
        yield
        if self.tr.enabled:
            self.tr.eventlogs[label] = sorted(
                os.path.join(d, f) for f in set(os.listdir(d)) - before)


# -- the daily loop ---------------------------------------------------------


class DayDirs:
    def __init__(self, base: str, day: int):
        self.base = base
        self.state = f"{base}/state"
        self.out = f"{base}/out{day}"
        self.curated = f"{base}/curated{day}"
        self.keep = f"{base}/keep{day}"
        self.band = f"{base}/band{day}"
        self.kept_docs = f"{base}/kept_docs{day}"
        self.tindex = f"{base}/text_index"


def kept_docs(curated: str, keep: str, out: str) -> None:
    """Glue between dedup and the index refresh: the curated rows the
    dedup keep-list retains."""
    spark = harness.session()
    docs = spark.read.parquet(curated).select("doc_id", "text")
    docs.join(spark.read.parquet(keep), "doc_id").write.mode("overwrite").parquet(out)
    harness.stop_session()


def day_chain(ctx: Ctx, spans: str, d: DayDirs, prev: DayDirs | None) -> dict:
    """incremental_extract -> curate -> dedup -> kept-docs glue ->
    text_index; returns the job summaries and the chain's wall time."""
    day = "day1" if prev else "day0"
    t0 = time.time()
    inc = ["--input", spans, "--output", d.out, "--state", d.state]
    cur = ["--input", spans, "--output", d.curated, "--nfc", "--line-dedup",
           "--pii-scrub", "--split", SPLIT]
    ded = ["--input", d.curated, "--output", d.keep, "--save-index", d.band]
    idx = ["--input", d.kept_docs, "--index", d.tindex]
    if prev:
        inc += ["--prev", prev.out]
        cur += ["--against", prev.curated]
        ded += ["--against-index", prev.band]
        idx = ["--update", *idx]
    else:
        idx = ["--build", *idx, "--buckets", str(INDEX_BUCKETS)]
    s = {
        "incremental_extract": ctx.job("incremental_extract", inc, f"{day}.incremental_extract"),
        "curate": ctx.job("curate", cur, f"{day}.curate"),
        "dedup": ctx.job("dedup", ded, f"{day}.dedup"),
    }
    with ctx.tr.span(f"{day}.glue.kept_docs") as sp, ctx.eventlogs(f"{day}.glue"):
        ctx.ledger.op("glue.kept_docs", kept_docs, d.curated, d.keep, d.kept_docs)
    s["glue_s"] = sp.seconds
    s["text_index"] = ctx.job("text_index", idx, f"{day}.text_index")
    s["wall_s"] = time.time() - t0
    return s


def restore_day0(base: DayDirs, rep_base: str) -> DayDirs:
    """A fresh day-1 starting point: the artifacts day 1 mutates (the
    hash state and the text index) are copied; the rest are read in
    place from the day-0 base."""
    os.makedirs(rep_base)
    d = DayDirs(rep_base, 1)
    shutil.copytree(base.state, d.state)
    shutil.copytree(base.tindex, d.tindex)
    return d


def source_hash(root: str) -> str:
    """Fingerprint of the program's and the benchmark's code: cached
    day-0 artifacts and recorded checksums are only reused by the code
    that made them."""
    h = hashlib.sha1()
    for top in ("ocr_spark", "jobs", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(root, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


class DailyInputs:
    """The fixed day-0 corpus and the seeded day-1 delta and queries."""

    def __init__(self, ctx: Ctx, dir0: str):
        env = ctx.env
        self.day0 = inputs.day0_docs(DAILY_DOCS)
        self.bm25, self.phrase = inputs.queries(ctx.seed, self.day0)
        self.spans0 = os.path.join(dir0, "day0_spans")
        day1, self.changes = inputs.day1_docs(ctx.seed, self.day0)
        spark = harness.session()
        if not os.path.exists(self.spans0):
            inputs.write_docs(self.day0, os.path.join(dir0, "day0_docs.parquet"))
            inputs.write_spans(spark, os.path.join(dir0, "day0_docs.parquet"), self.spans0)
        inputs.write_docs(day1, env.path("day1_docs.parquet"))
        self.spans1 = env.path("day1_spans")
        self.n1 = inputs.write_spans(spark, env.path("day1_docs.parquet"), self.spans1)
        harness.stop_session()


def day0_dir(ctx: Ctx) -> str:
    return os.path.join(ctx.env.cache, f"day0-{DAILY_DOCS}-{source_hash(ctx.root)}")


def build_caches(ctx: Ctx) -> None:
    """The first run in a checkout, whatever its workload, builds every
    cached input (the skewed corpus and the day-0 artifacts), so no
    later run, traced or not, pays for them."""
    inputs.skewed_shape(ctx.env.cache, SKEW_DOCS)
    if not os.path.exists(os.path.join(day0_dir(ctx), "DONE")):
        day0_base(ctx)


def day0_base(ctx: Ctx) -> tuple[DailyInputs, DayDirs]:
    """Day-0 artifacts, built once per checkout and program version by
    the day-0 chain itself, then restored by every day-1 run."""
    final = day0_dir(ctx)
    if os.path.exists(os.path.join(final, "DONE")):
        return DailyInputs(ctx, final), DayDirs(final, 0)
    tmp = f"{final}.{os.getpid()}.tmp"
    os.makedirs(tmp)
    inp = DailyInputs(ctx, tmp)
    day_chain(ctx, inp.spans0, DayDirs(tmp, 0), None)
    os.rename(tmp, final)
    with open(os.path.join(final, "DONE"), "w") as fh:
        fh.write("ok\n")
    inp.spans0 = os.path.join(final, "day0_spans")
    # measure on a fresh JVM, as every run that finds the cache does
    harness.stop_jvm()
    harness.warm_session()
    return inp, DayDirs(final, 0)


# -- queries ----------------------------------------------------------------


def duplicated_postings(spark, tindex: str) -> tuple[set, set]:
    """(terms, doc ids) of index postings that occur twice for one
    (doc_id, term): what makes a phrase query over such a term fail
    with DUPLICATED_MAP_KEY."""
    rows = (spark.read.parquet(f"{tindex}/postings").groupBy("doc_id", "term").count()
            .where("count > 1").select("doc_id", "term").collect())
    return {r.term for r in rows}, {r.doc_id for r in rows}


def index_queries(ctx: Ctx, tindex: str, bm25, phrase, reindexed: set) -> dict:
    """BM25 and phrase queries, interleaved, one at a time. Latencies
    in ms per kind, leaving out the first ``WARMUP_QUERIES`` of each
    kind (the session's lazy set-up); a failed query counts with the
    time it took to fail. A phrase failure is put down to the known
    defect only when it is DUPLICATED_MAP_KEY, a query term has a
    doubled posting, and every doc with doubled postings was handed to
    the index on two days."""
    from ocr_spark.functions.tfidf import bm25_from_index, phrase_from_index

    spark = harness.session()
    dup_terms, dup_docs = duplicated_postings(spark, tindex)

    def known(exc, q):
        dup_key = "DUPLICATED_MAP_KEY" in str(exc)
        explained = dup_key and {t.lower() for t in q} & dup_terms and dup_docs <= reindexed
        return REINDEXED if explained else None

    lat = {"bm25": [], "phrase": []}
    results = {"bm25": [], "phrase": []}
    for i, (qb, qp) in enumerate(zip(bm25, phrase)):
        for kind, q, fn in (("bm25", qb, bm25_from_index), ("phrase", qp, phrase_from_index)):
            t0 = time.perf_counter()
            rows = ctx.ledger.op(f"query.{kind}",
                                 lambda fn=fn, q=q: fn(spark, tindex, q).collect(),
                                 known=lambda exc, q=q: known(exc, q))
            if i >= inputs.WARMUP_QUERIES:
                lat[kind].append((time.perf_counter() - t0) * 1e3)
            results[kind].append(rows)
    return {"lat": lat, "results": results, "spark": spark}


# -- checks -----------------------------------------------------------------


def spec_sequences(table: pa.Table) -> dict:
    """Span sequences per doc from the pandas spec kernel."""
    import pandas as pd

    from ocr_spark.kernel.extract import extract_flat
    from ocr_spark.schema import KIND_ERROR

    pdf = pd.DataFrame({"doc_id": table.column("doc_id").to_pylist(),
                        "spans": table.column("spans").to_pylist()})
    flat = extract_flat(pdf)
    flat = flat[flat["kind"] != KIND_ERROR].sort_values(["doc_id", "offset"], kind="stable")
    seqs = {d: [] for d in pdf["doc_id"]}
    for r in flat.itertuples(index=False):
        seqs[r.doc_id].append((r.kind, r.text, r.media_ref, int(r.offset)))
    return seqs


def sample(ctx: Ctx, items: list, n: int, stream: int) -> list:
    import numpy as np

    rng = np.random.default_rng([ctx.seed, 10 + stream])
    return [items[i] for i in sorted(rng.choice(len(items), min(n, len(items)), replace=False))]


def check_spans_flat(ctx: Ctx, spans: str, out: str) -> None:
    """Span-sequence equality of a published flat table against the
    pandas spec kernel on a seeded sample of docs."""
    src = ds.dataset(spans, format="parquet")
    ids = sorted(src.to_table(columns=["doc_id"]).column("doc_id").to_pylist())
    picked = sample(ctx, ids, 40, 0)
    want = spec_sequences(src.to_table(filter=pc.field("doc_id").isin(picked)))
    rows = ds.dataset(out, format="parquet").to_table(
        columns=list(FLAT), filter=pc.field("doc_id").isin(picked)).to_pylist()
    got = {d: [] for d in picked}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["offset"])):
        got[r["doc_id"]].append((r["kind"], r["text"], r["media_ref"], r["offset"]))
    bad = [d for d in picked if got[d] != want[d]]
    ctx.ledger.check("span_sequence_vs_spec", not bad, {"mismatched_docs": bad[:5]})


def checksum(df, cols) -> list:
    from ocr_spark.functions.audit import table_checksum

    r = table_checksum(df, group_cols=(), cols=tuple(cols)).collect()
    return [int(r[0]["n_rows"]), int(r[0]["checksum60"])] if r else [0, 0]


def check_equals_full(ctx: Ctx, name: str, spark, spans: str, got: list) -> None:
    """A published flat span table (its checksum ``got``) equals
    extract_main_content of the same day, compared by content
    checksum."""
    from ocr_spark.pipeline.extract import extract_main_content

    want = checksum(extract_main_content(spark.read.parquet(spans)), FLAT)
    ctx.ledger.check(name, got == want, {"published": got, "full": want})


def reindexed_ids(kept_paths: list[str]) -> set:
    """doc_ids handed to the text index on more than one day."""
    seen, dup = set(), set()
    for p in kept_paths:
        ids = set(pq.read_table(p, columns=["doc_id"]).column("doc_id").to_pylist())
        dup |= seen & ids
        seen |= ids
    return dup


def collect_rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def check_fresh_index(ctx: Ctx, spark, bm25, phrase, base: DayDirs) -> None:
    """On the day-0 index, built once from day 0's kept docs, a seeded
    BM25 and a seeded phrase answer equal the scan answers; no failure
    here is excused."""
    from ocr_spark.functions.tfidf import (bm25_from_index, bm25_topk, phrase_from_index,
                                           phrase_search)

    corpus = spark.read.parquet(base.kept_docs).select("doc_id", "text")

    def check(name: str, q, got, want) -> None:
        try:
            ok, detail = got() == want(), {"query": q}
        except Exception as exc:  # a query that raises fails its check
            ok, detail = False, {"query": q, "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
        ctx.ledger.check(name, ok, detail)

    for i in sample(ctx, list(range(len(bm25))), 1, 5):
        q = bm25[i]
        check("bm25_fresh_index_equals_scan", q,
              lambda: collect_rows(bm25_from_index(spark, base.tindex, q)),
              lambda: collect_rows(bm25_topk(corpus, q, k=10)))
    for i in sample(ctx, list(range(len(phrase))), 1, 6):
        q = phrase[i]
        check("phrase_fresh_index_equals_scan", q,
              lambda: sorted(collect_rows(phrase_from_index(spark, base.tindex, q))),
              lambda: sorted(collect_rows(phrase_search(corpus, q))))


def bm25_doubled(spark, kept_paths: list[str], reindexed: set, q: list[str]) -> list[tuple]:
    """The BM25 top-10 an index gives when each doc in ``reindexed``
    has its postings from both days: scan scores with the later copy
    under a stand-in id, then summed back per doc_id (a string, as the
    index and the kept-docs tables store it), ranked as bm25_from_index
    ranks (score desc, doc_id asc)."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.tfidf import bm25_topk

    first, *later = kept_paths
    stand_in = F.when(F.col("doc_id").isin(sorted(reindexed)),
                      F.concat(F.lit(STAND_IN), F.col("doc_id")))
    corpus = spark.read.parquet(first).select("doc_id", "text").unionByName(
        spark.read.parquet(*later).select(stand_in.otherwise(F.col("doc_id")).alias("doc_id"),
                                          "text"))
    merged: dict = {}
    for doc_id, hits, score in collect_rows(bm25_topk(corpus, q, k=corpus.count())):
        d = doc_id.removeprefix(STAND_IN)
        h0, s0 = merged.get(d, (0, 0))
        merged[d] = (h0 + hits, s0 + score)
    ranked = sorted(merged.items(), key=lambda kv: (-kv[1][1], kv[0]))
    return [(d, h, s) for d, (h, s) in ranked[:10]]


def check_index(ctx: Ctx, q: dict, bm25, tindex: str, kept_paths: list[str],
                reindexed: set) -> None:
    """stats.n_docs equals the distinct indexed doc_ids, and a seeded
    BM25 answer from the index equals bm25_topk on the indexed corpus.
    A failure is put down to the known defect only when the doc ids
    indexed twice account for it exactly: n_docs exceeds the distinct
    ids by their number, and the BM25 answer is exactly the one an
    index with their postings doubled gives."""
    from ocr_spark.functions.tfidf import bm25_topk

    spark = q["spark"]
    n_docs = int(spark.read.parquet(f"{tindex}/stats").collect()[0]["n_docs"])
    distinct = spark.read.parquet(f"{tindex}/postings").select("doc_id").distinct().count()
    explained = bool(reindexed) and n_docs - distinct == len(reindexed)
    ctx.ledger.check("index_n_docs_equals_distinct_ids", n_docs == distinct,
                     {"n_docs": n_docs, "distinct_doc_ids": distinct,
                      "indexed_twice": len(reindexed)},
                     known_defect=REINDEXED if explained else None)
    corpus = spark.read.parquet(*kept_paths).select("doc_id", "text")
    for i in sample(ctx, list(range(len(bm25))), 1, 1):
        got = q["results"]["bm25"][i]
        if got is None:
            continue
        got = [tuple(r) for r in got]
        ok = got == collect_rows(bm25_topk(corpus, bm25[i], k=10))
        hit = not ok and bool(reindexed) and got == bm25_doubled(spark, kept_paths,
                                                                   reindexed, bm25[i])
        ctx.ledger.check("bm25_index_equals_scan", ok, {"query": bm25[i]},
                         known_defect=REINDEXED if hit else None)


def check_repeatable(ctx: Ctx, name: str, sums: dict) -> None:
    """Artifact checksums are identical across runs with the same seed
    and code: the first run records them, later runs compare."""
    path = os.path.join(ctx.env.cache, "checksums",
                        f"{name}-{ctx.seed}-{source_hash(ctx.root)}.json")
    if os.path.exists(path):
        with open(path) as fh:
            want = json.load(fh)
        ctx.ledger.check("artifacts_identical_across_runs", sums == want,
                         {"this_run": sums, "recorded": want})
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + f".{os.getpid()}", "w") as fh:
        json.dump(sums, fh)
    os.replace(path + f".{os.getpid()}", path)


# -- measured loops -----------------------------------------------------------


def measure(ctx: Ctx, rep_fn) -> list:
    """Repeat ``rep_fn(i)`` until ``seconds`` have been measured (at
    least one rep)."""
    reps, t0 = [], time.time()
    while not reps or time.time() - t0 < ctx.seconds:
        reps.append(rep_fn(len(reps)))
    return reps


def run_day1(ctx: Ctx) -> dict:
    marks = [time.time()]
    inp, base = day0_base(ctx)
    marks.append(time.time())

    def rep(i):
        d = restore_day0(base, ctx.env.path(f"d1rep{i}"))
        return day_chain(ctx, inp.spans1, d, base), d

    with harness.MemorySampler() as mem:
        reps = measure(ctx, rep)
    marks.append(time.time())
    chain, d = reps[-1]
    kept = [base.kept_docs, d.kept_docs]
    reindexed = reindexed_ids(kept)
    q = index_queries(ctx, d.tindex, inp.bm25, inp.phrase, reindexed)
    marks.append(time.time())
    spark = q["spark"]
    check_spans_flat(ctx, inp.spans1, d.out)
    sums = artifact_checksums(spark, d)
    check_equals_full(ctx, "incremental_equals_full", spark, inp.spans1, sums["extract"])
    check_fresh_index(ctx, spark, inp.bm25, inp.phrase, base)
    check_index(ctx, q, inp.bm25, d.tindex, kept, reindexed)
    check_repeatable(ctx, "day1_delta", sums)
    harness.stop_session()
    marks.append(time.time())
    res = result([c for c, _ in reps], inp.n1, mem.peak_mb,
                 dict(zip(("inputs", "chains", "queries", "checks"), phases(marks))))
    res["report"].update({
        "query_ms": {k: [round(x) for x in v] for k, v in q["lat"].items()},
        "query_p50_ms": {k: statistics.median(v) for k, v in q["lat"].items()},
        "changes": {k: len(v) for k, v in inp.changes.items()},
        "indexed_twice": len(reindexed),
        "recomputed_docs": chain["incremental_extract"]["n_recomputed_docs"],
    })
    return res


def artifact_checksums(spark, d: DayDirs) -> dict:
    from pyspark.sql import functions as F

    post = spark.read.parquet(f"{d.tindex}/postings").withColumn("ps", F.col("ps").cast("string"))
    return {
        "extract": checksum(spark.read.parquet(d.out), FLAT),
        "curated": checksum(spark.read.parquet(d.curated), ("doc_id", "text", "split")),
        "keep": checksum(spark.read.parquet(d.keep), ("doc_id",)),
        "postings": checksum(post, ("bucket", "term", "doc_id", "tf", "ps", "dl")),
    }


def phases(marks: list) -> list:
    return [round(b - a, 2) for a, b in zip(marks, marks[1:])]


def result(chains: list[dict], n_docs: int, peak_mb: float, phase_s: dict) -> dict:
    wall = statistics.median(c["wall_s"] for c in chains)
    return {
        "metrics": {
            "wall_s": (wall, "s"),
            "docs_per_s": (n_docs / wall, "docs/s"),
            "peak_pss_mb": (peak_mb, "MB"),
        },
        "report": {
            "reps_wall_s": [c["wall_s"] for c in chains],
            "reps_job_s": [{k: round(v["_seconds"], 3) for k, v in c.items()
                            if isinstance(v, dict) and "_seconds" in v} for c in chains],
            "phase_s": phase_s,
        },
    }


# -- skewed extraction --------------------------------------------------------


def extract_argv(spans: str, out: str, run_id: str) -> list[str]:
    return ["--input", spans, "--output", out, "--run-id", run_id,
            "--buckets", str(SKEW_BUCKETS), "--buckets-per-commit", str(SKEW_PER_COMMIT)]


def skew_special_ids(table: pa.Table) -> tuple[list, list]:
    """(giant doc ids, malformed doc ids) of the skewed corpus."""
    import numpy as np
    import pandas as pd

    spans = table.column("spans").combine_chunks()
    lens = pc.list_value_length(spans).fill_null(0).to_numpy()
    ids = table.column("doc_id").to_pylist()
    flat = pc.list_flatten(spans)
    f = pd.DataFrame({
        "d": np.repeat(np.arange(len(ids)), lens),
        "o": flat.field("offset").to_numpy(zero_copy_only=False),
        "null_text": flat.field("text").is_null().to_numpy(zero_copy_only=False),
    })
    bad = set(f.loc[f["null_text"], "d"]) | set(f.loc[f.duplicated(["d", "o"], keep=False), "d"])
    return [ids[i] for i in np.flatnonzero(lens >= 2000)], [ids[i] for i in sorted(bad)]


def check_ids(ctx: Ctx, table: pa.Table) -> list:
    """The docs the span-sequence check reads back: 3 giants, 3
    malformed and 14 uniform picks."""
    giants, malformed = skew_special_ids(table)
    picked = sample(ctx, giants, 3, 2) + sample(ctx, malformed, 3, 3)
    taken = set(picked)
    rest = [i for i in table.column("doc_id").to_pylist() if i not in taken]
    return picked + sample(ctx, rest, 20 - len(picked), 4)


def published_sequences(out: str, ids: list) -> dict:
    """Span sequences per doc as the runner published them."""
    rows = ds.dataset(out, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "spans"], filter=pc.field("doc_id").isin(ids)).to_pylist()
    got = {d: [] for d in ids}
    for r in rows:
        got[r["doc_id"]] += [(s["kind"], s["text"], s["media_ref"], s["offset"])
                             for s in (r["spans"] or [])]
    return got


def runner_flat(spark, out: str):
    from pyspark.sql import functions as F

    return (spark.read.parquet(out).select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))


def run_skewed(ctx: Ctx) -> dict:
    marks = [time.time()]
    spans = ctx.env.path("skewed_spans")
    table = inputs.write_skewed(ctx.seed, ctx.env.cache, SKEW_DOCS, spans)
    n_spans = int(pc.sum(pc.list_value_length(table.column("spans")).fill_null(0)).as_py())

    def rep(i):
        out = ctx.env.path(f"skrep{i}")
        s = ctx.job("extract", extract_argv(spans, out, f"r{i}"), "skew.extract")
        return {"wall_s": s["_seconds"], "extract": s, "out": out}

    marks.append(time.time())
    with harness.MemorySampler() as mem:
        reps = measure(ctx, rep)
    marks.append(time.time())
    last = reps[-1]
    ids = check_ids(ctx, table)
    got = published_sequences(last["out"], ids)
    want = spec_sequences(table.filter(pc.field("doc_id").isin(ids)))
    bad = [d for d in ids if got[d] != want[d]]
    ctx.ledger.check("span_sequence_vs_spec", not bad, {"mismatched_docs": bad[:5]})
    summ = last["extract"]
    spark = harness.session()
    ctx.ledger.check(
        "runner_accounts_every_doc_and_span",
        (summ["n_docs"], summ["n_spans_in"], summ["buckets_done"])
        == (table.num_rows, n_spans, SKEW_BUCKETS),
        {"summary": summ, "input_docs": table.num_rows, "input_spans": n_spans})
    sums = [checksum(runner_flat(spark, r["out"]), FLAT) for r in reps]
    check_equals_full(ctx, "runner_equals_full_extract", spark, spans, sums[-1])
    if len(sums) > 1:
        ctx.ledger.check("artifacts_identical_across_reps",
                         all(s == sums[0] for s in sums), {"reps": sums})
    check_repeatable(ctx, "skewed_extract", {"extract": sums[-1]})
    harness.stop_session()
    marks.append(time.time())
    res = result(reps, table.num_rows, mem.peak_mb, dict(zip(("inputs", "chains", "checks"),
                                                          phases(marks))))
    res["report"].update({"n_spans": n_spans, "parse_failures": summ["parse_failures"]})
    return res


WORKLOADS = {"day1_delta": run_day1, "skewed_extract": run_skewed}
