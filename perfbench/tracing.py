"""The traced run: per-layer metrics of the day-1 loop, of the day-0
artifacts it starts from, and of the skewed extraction, in one process
whatever the workload.

It runs the day-1 chain and the extraction job with the engine's event
log on, times every job's ``main()`` call, reads each job's JSON
summary and lineage files, and calls the layers' public functions on
the same on-disk inputs, forcing each to the ``noop`` sink. Differences
between nested variants give a layer's self time. Spans are kept in
memory and written to ``perfbench/_work/traces/`` at the end. Tracing
overhead is the traced minus the untraced wall time of the extraction
job on the same input.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import pyarrow.compute as pc
import pyarrow.dataset as ds

import harness
import workloads as W

DAY_JOBS = ("incremental_extract", "curate", "dedup", "text_index")


def per_layer_metrics(root: str) -> dict[str, str]:
    """Every per-layer metric BENCHMARK.json names, with its unit."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


# -- helpers -------------------------------------------------------------------


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def arrow_ledger(tr, prefix: str, spark, spans: str, scratch: str) -> None:
    """scan -> noop; scan -> identity mapInArrow -> noop; scan ->
    extract_main_content -> noop; the same chain -> parquet. The
    differences are the scan, the JVM->Arrow hand-off, the kernel and
    the sink."""
    from ocr_spark.pipeline.extract import extract_main_content

    def src():
        return spark.read.parquet(spans)

    def identity():
        df = src()
        return df.mapInArrow(lambda it: (b for b in it), schema=df.schema)

    with tr.span(f"{prefix}.ledger"):
        a = timed(lambda: noop(src()))
        b = timed(lambda: noop(identity()))
        c = timed(lambda: noop(extract_main_content(src())))
        d = timed(lambda: extract_main_content(src()).write.mode("overwrite").parquet(scratch))
    tr.put(f"{prefix}.ledger.scan_s", a)
    tr.put(f"{prefix}.ledger.handoff_s", b - a)
    tr.put(f"{prefix}.ledger.kernel_s", c - b)
    tr.put(f"{prefix}.ledger.sink_s", d - c)


def kernel_direct(tr, prefix: str, spans: str) -> None:
    """extract_flat_batch over the table's pyarrow batches, one core."""
    from ocr_spark.kernel.arrow_extract import extract_flat_batch
    from ocr_spark.pipeline.session import ARROW_MAX_RECORDS
    from ocr_spark.schema import KIND_ERROR

    batches = [b for b in ds.dataset(spans, format="parquet")
               .to_batches(batch_size=ARROW_MAX_RECORDS) if b.num_rows]
    spans_in = sum(pc.sum(pc.list_value_length(b.column("spans")).fill_null(0)).as_py() or 0
                   for b in batches)
    with tr.span(f"{prefix}.kernel.batches") as sp:
        outs = [extract_flat_batch(b) for b in batches]
    out_rows = err_docs = 0
    for o in outs:
        is_err = pc.equal(o.column("kind"), KIND_ERROR)
        out_rows += o.num_rows - (pc.sum(is_err).as_py() or 0)
        err_docs += len(pc.unique(pc.filter(o.column("doc_id"), is_err)))
    tr.put(f"{prefix}.kernel.batch_s", sp.seconds)
    tr.put(f"{prefix}.kernel.spans_per_s", spans_in / sp.seconds)
    tr.put(f"{prefix}.kernel.spans_in", spans_in)
    tr.put(f"{prefix}.kernel.spans_out", out_rows)
    tr.put(f"{prefix}.kernel.keep_ratio", out_rows / max(1, spans_in))
    tr.put(f"{prefix}.kernel.error_docs", err_docs)


def corpus_text(spark, out: str):
    """Per-doc text from a flat extraction table, assembled the way
    jobs/curate.py assembles it."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(out).where(F.col("text") != "").groupBy("doc_id").agg(
            F.concat_ws(" ", F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("offset"), F.col("text")))),
                lambda s: s["text"])).alias("text"))
    )


def scrub(df):
    """curate's --nfc --line-dedup --pii-scrub chain."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.scrub import line_dedup, pii_scrub
    from ocr_spark.functions.unicode_norm import normalize_nfc

    df = normalize_nfc(df).drop("changed")
    df = line_dedup(df).select("doc_id", F.col("clean_text").alias("text"))
    return pii_scrub(df).select("doc_id", F.col("clean_text").alias("text"))


def cluster_layers(tr, day: str, docs) -> None:
    """Near-dup clusters over the day's scrubbed, not yet deduplicated
    text (what curate's near-dup stage clusters; the dedup job's own
    input is already deduplicated by curate), plus the LSH pair
    precision (verified / candidate pairs) and the CC round count.
    dup_clusters' stages (LSH candidates, exact-Jaccard verification,
    connected components) run one by one under one timer, so the pair
    counts and the round count come from the timed computation."""
    from ocr_spark.functions import dedup as dd

    with tr.span(f"{day}.dedup.clusters") as sp:
        cand = dd.minhash_lsh_pairs(docs, max_bucket=1000).localCheckpoint()
        edges = dd.jaccard_verify(docs, cand, tau=0.5).select(
            "doc_a", "doc_b").localCheckpoint()
        labels, rounds = dd.connected_components(edges)
        noop(labels)
    tr.put(f"{day}.dedup.clusters_s", sp.seconds)
    n_cand, verified = cand.count(), edges.count()
    tr.put(f"{day}.dedup.cc_rounds", rounds)
    tr.put(f"{day}.dedup.pair_precision", verified / n_cand if n_cand else 0.0)


def day1_layers(ctx, spark, spans: str, d, base, chain: dict) -> None:
    """Layer probes on the day-1 artifacts."""
    from pyspark.sql import functions as F

    from ocr_spark.functions import dedup as dd
    from ocr_spark.functions.text import quality_score
    from ocr_spark.functions.tfidf import update_text_index
    from ocr_spark.pipeline.extract import doc_input_hash
    from ocr_spark.pipeline.writer import ResultsWriter

    tr = ctx.tr
    scratch = ctx.env.path("day1_scratch")
    inc, cur = chain["incremental_extract"], chain["curate"]
    tr.put("day1.extract.input_hash_s",
           timed(lambda: noop(doc_input_hash(spark.read.parquet(spans)))))
    tr.put("day1.extract.recomputed_docs", inc["n_recomputed_docs"])
    tr.put("day1.extract.carried_docs", inc["n_carried_docs"])
    # curate re-extracts every doc of the span table (see NOTES.md)
    kernel_docs = inc["n_recomputed_docs"] + spark.read.parquet(spans).count()
    tr.put("day1.loop.kernel_docs", kernel_docs)
    tr.put("day1.loop.kernel_docs_per_changed_doc",
           kernel_docs / max(1, inc["n_recomputed_docs"]))
    tr.put("day1.curate.n_novel", cur["n_novel"])
    tr.put("day1.curate.n_gated", cur["n_after_quality_lang"])
    tr.put("day1.curate.n_curated", cur["n_curated"])

    corpus = corpus_text(spark, d.out).persist()
    corpus.count()
    with tr.span("day1.curate.scrub") as sp:
        scrubbed = scrub(corpus).persist()
        scrubbed.count()
    tr.put("day1.curate.scrub_s", sp.seconds)

    def gates():
        q = quality_score(scrubbed).select("doc_id", "quality")
        noop(scrubbed.join(q, "doc_id").where(F.col("quality") >= 0.3))

    tr.put("day1.curate.gates_s", timed(gates))
    existing = spark.read.parquet(base.curated).select("text")
    tr.put("day1.dedup.novel_s", timed(lambda: noop(dd.novel_docs(scrubbed, existing))))
    tr.put("day1.writer.curated_write_s", timed(
        lambda: ResultsWriter(spark, path=f"{scratch}/curated", n_buckets=16).write(
            spark.read.parquet(d.curated))))

    tr.put("day1.dedup.exact_s", timed(lambda: noop(dd.exact_dedup(scrubbed))))
    cluster_layers(tr, "day1", scrubbed)
    docs = spark.read.parquet(d.curated).select("doc_id", "text").persist()
    docs.count()
    band0 = spark.read.parquet(base.band)
    tr.put("day1.dedup.against_index_s", timed(lambda: noop(dd.dedup_against_index(docs, band0))))
    tr.put("day1.dedup.index_hits",
           dd.dedup_against_index(docs, band0).select("new_doc_id").distinct().count())
    kept = spark.read.parquet(d.kept_docs)
    tr.put("day1.dedup.index_merge_s", timed(
        lambda: noop(dd.merge_band_index(band0, dd.minhash_band_index(kept)))))
    target = f"{scratch}/tindex"
    shutil.copytree(base.tindex, target)
    tr.put("day1.tfidf.update_s", timed(lambda: update_text_index(spark, target, kept)))
    tr.put("day1.tfidf.postings", spark.read.parquet(f"{d.tindex}/postings").count())
    tr.put("day1.tfidf.index_files", sum(
        f.endswith(".parquet") for _, _, fs in os.walk(f"{d.tindex}/postings") for f in fs))
    for frame in (corpus, scrubbed, docs):
        frame.unpersist()


def day0_layers(ctx, spark, base) -> None:
    """The layers a full day-0 run leans on, probed on the day-0
    artifacts: clusters over the whole scrubbed corpus and the index
    build."""
    from ocr_spark.functions.tfidf import write_text_index

    docs = scrub(corpus_text(spark, base.out)).persist()
    docs.count()
    cluster_layers(ctx.tr, "day0", docs)
    docs.unpersist()
    kept = spark.read.parquet(base.kept_docs)
    target = ctx.env.path("day0_scratch", "tindex")
    ctx.tr.put("day0.tfidf.build_s",
               timed(lambda: write_text_index(kept, target, n_buckets=W.INDEX_BUCKETS)))
    ctx.tr.put("day0.tfidf.postings", spark.read.parquet(f"{base.tindex}/postings").count())


def queries(ctx, bm25, phrase, tindex: str, reindexed: set) -> None:
    q = W.index_queries(ctx, tindex, bm25, phrase, reindexed)
    ctx.tr.put("day1.query.bm25_p50_ms", statistics.median(q["lat"]["bm25"]))
    ctx.tr.put("day1.query.phrase_p50_ms", statistics.median(q["lat"]["phrase"]))
    ctx.tr.put("day1.query.failed",
               sum(r is None for k in ("bm25", "phrase") for r in q["results"][k]))
    harness.stop_session()


# -- event log -----------------------------------------------------------------


def spark_counters(paths: list[str], input_marker: str | None = None) -> dict:
    """Engine counters from uncompressed event logs: jobs started
    (actions), executor run time, GC, shuffle write, spill, the worst
    stage's max/mean task run time, and how many SQL executions scanned
    files under ``input_marker``."""
    actions = run_ms = gc_ms = shuffle_b = spill_b = scans = 0
    stage_tasks: dict[tuple, list[int]] = {}
    for p in paths:
        with open(p) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    actions += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    run_ms += m.get("Executor Run Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    key = (p, ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                    stage_tasks.setdefault(key, []).append(m.get("Executor Run Time", 0))
                elif kind.endswith("SparkListenerSQLExecutionStart") and input_marker:
                    plan = ev.get("physicalPlanDescription", "")
                    scans += "Scan parquet" in plan and input_marker in plan
    skew = max((max(ts) * len(ts) / sum(ts) for ts in stage_tasks.values()
                if len(ts) > 1 and sum(ts)), default=1.0)
    return {"actions": actions, "task_s": run_ms / 1e3, "gc_s": gc_ms / 1e3,
            "shuffle_mb": shuffle_b / (1 << 20), "spill_mb": spill_b / (1 << 20),
            "max_task_skew": skew, "scan_passes": scans}


def put_spark(tr, prefix: str, job: str, label: str, names: set, marker=None) -> dict:
    c = spark_counters(tr.eventlogs[label], marker)
    for k, v in c.items():
        if f"{prefix}.spark.{job}.{k}" in names:
            tr.put(f"{prefix}.spark.{job}.{k}", v)
    return c


def runner_layers(tr, summary: dict, out: str, run_id: str, names: set) -> None:
    """Commit groups and the slowest group's wall time from the lineage
    records; input scan passes from the job's event log."""
    lin_dir = f"{out}/_lineage/{run_id}"
    lineage = []
    for f in sorted(os.listdir(lin_dir)):
        if f.startswith("bucket-"):
            with open(os.path.join(lin_dir, f)) as fh:
                lineage.append(json.load(fh))
    # every bucket of a commit group records the group's wall_ms
    tr.put("skew.runner.groups", len({r["wall_ms"] for r in lineage}))
    tr.put("skew.runner.group_s_max", max(r["wall_ms"] for r in lineage) / 1e3)
    tr.put("skew.runner.parse_failures", summary["parse_failures"])
    c = put_spark(tr, "skew", "extract", "skew.extract", names, marker="skewed_spans")
    tr.put("skew.runner.scan_passes", c["scan_passes"])


# -- the run -------------------------------------------------------------------


def run(env, seed: int, seconds: float, ledger, host: dict) -> dict:
    units = per_layer_metrics(env.root)
    name_set = set(units)
    tr = W.Tracer(True, f"trace-{seed}-{os.getpid()}")
    for k, v in host.items():
        tr.put(f"host.{k}", v)
    ctx = W.Ctx(env, seed, seconds, ledger, tr)
    inp, base = W.day0_base(ctx)

    # day 1, traced, from the restored day-0 artifacts
    harness.set_eventlog(True)
    d1 = W.restore_day0(base, env.path("day1"))
    c1 = W.day_chain(ctx, inp.spans1, d1, base)
    harness.set_eventlog(False)
    for j in DAY_JOBS:
        tr.put(f"day1.job.{j}_s", c1[j]["_seconds"])
        put_spark(tr, "day1", j, f"day1.{j}", name_set)
    tr.put("day1.glue.kept_docs_s", c1["glue_s"])
    reindexed = W.reindexed_ids([base.kept_docs, d1.kept_docs])
    queries(ctx, inp.bm25, inp.phrase, d1.tindex, reindexed)
    spark = harness.session()
    W.check_spans_flat(ctx, inp.spans1, d1.out)
    day1_layers(ctx, spark, inp.spans1, d1, base, c1)

    # day 0: the restored artifacts and a fresh (unappended) index
    day0_layers(ctx, spark, base)
    arrow_ledger(tr, "day0", spark, inp.spans0, env.path("day0_scratch", "ledger"))
    harness.stop_session()
    kernel_direct(tr, "day0", inp.spans0)

    # skewed extraction: an untraced warm-up on one input file (the
    # same code paths), then traced and untraced on the whole input, so
    # the difference is the event log's cost and not first-use warm-up
    spans = env.path("skewed_spans")
    W.inputs.write_skewed(seed, env.cache, W.SKEW_DOCS, spans)
    warm = env.path("skew_warm_in")
    os.makedirs(warm)
    shutil.copy(os.path.join(spans, "part-0.parquet"), warm)
    tr.enabled = False
    ctx.job("extract", W.extract_argv(warm, env.path("skew_warm"), "warm"), "warm")
    tr.enabled = True
    harness.set_eventlog(True)
    out = env.path("skew_out")
    s = ctx.job("extract", W.extract_argv(spans, out, "trace"), "skew.extract")
    harness.set_eventlog(False)
    tr.enabled = False
    plain = ctx.job("extract", W.extract_argv(spans, env.path("skew_plain"), "plain"), "plain")
    tr.enabled = True
    tr.put("trace.overhead_s", s["_seconds"] - plain["_seconds"])
    tr.put("skew.job.extract_s", s["_seconds"])
    runner_layers(tr, s, out, "trace", name_set)
    spark = harness.session()
    arrow_ledger(tr, "skew", spark, spans, env.path("skew_scratch", "ledger"))
    harness.stop_session()
    kernel_direct(tr, "skew", spans)

    out_dir = os.path.join(env.work, "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tr.run_id}.jsonl"), "w") as fh:
        for sp in tr.spans:
            fh.write(json.dumps(sp) + "\n")
    missing = [n for n in units if n not in tr.metrics]
    if missing:
        raise RuntimeError(f"traced run did not measure {missing}")
    return {n: (tr.metrics[n], u) for n, u in units.items()}
