"""Curation workload: the dedup / near-dup / ANN / decontamination
operators over a corpus where every document has nine exact duplicates.

Seeded base tables (``documents`` and ``embeddings``, sf0.01 sizes) are
generated with the shape measured on the sf0.01 test data (``SF001``),
then replicated ten times with shifted ids the way
``tools/make_sf_replica.py`` builds its replicas. That makes 5,000
documents in 500 ten-document cliques, the input on which the near-dup
posting lists grow ten-fold. One client runs the queries back to back;
each result is materialized with a ``noop`` write, never ``count()``.

``python3 perfbench/curation.py DIR...`` prints the corpus statistics of
each directory's ``documents.parquet``, the figures ``SF001`` records.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import random
import statistics
import sys
import threading
import time

from common import ROOT, median, percentile
from spans import Tracer, plan_operators, session_storage, stage_totals

QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_span_coverage",
    "sim_topk_lsh",
    "sim_topk_bruteforce",
    "decontam_overlap",
    "text_repetition",
    "dedup_exact",
]
#: run as the bare operator (bench.py's overrides), not the gated catalog
#: entry; checked against the exact computation instead of an oracle row set
RAW = ("dedup_minhash_lsh", "sim_topk_lsh")
SF = 0.01
VARIANT = "dup10"
COPIES = 10
BASE_DOCS = 500
WARM_BASE_DOCS = 50
DIM = 64
#: passes a run makes at least, whatever ``--seconds`` says
MIN_PASSES = 2
#: per-layer metrics of layers this workload does not run (it reads no
#: stream and writes no sink); a traced run reports them as 0
NOT_RUN = ("sources.", "operators.", "sinks.", "pipeline.")

#: ``corpus_stats`` of the sf0.01 test data's ``documents``, which the
#: generator reproduces: 30 words drawn uniformly (each 3.1-3.6% of all
#: tokens), 10-99 tokens per text, 5% near-duplicates (another
#: document's text plus the word "dup"), no exact duplicates
SF001 = {
    "docs": 500,
    "distinct_text_share": 1.0,
    "vocabulary": 31,
    "tokens_min": 10,
    "tokens_mean": 54.33,
    "tokens_max": 99,
    "near_dup_share": 0.05,
    "distinct_3shingle_share": 0.6216,
    "distinct_4shingle_share": 0.9399,
    "lang_en_share": 0.436,
}
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
TOKENS = (10, 99)
NEAR_DUP_SHARE = 0.05
#: language weights: en three times as frequent as each other language
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
SOURCES = 20


def make_base(d: str, seed: int, n: int) -> None:
    """Seeded ``documents`` and ``embeddings`` tables with the testdata
    schemas and the sf0.01 shape (``SF001``): uniform words and text
    lengths, near-duplicates made by copying another text and appending
    "dup" (in random order, so a copy may be copied again), sources
    round-robin, unit-length Gaussian vectors with uniform labels."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(*TOKENS))) for _ in range(n)]
    for i in rng.sample(range(n), round(n * NEAR_DUP_SHARE)):
        texts[i] = texts[rng.choice([j for j in range(n) if j != i])] + " dup"
    docs = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = []
    for _ in range(n):
        v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    emb = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n)], pa.int32()),
    })
    os.makedirs(d, exist_ok=True)
    pq.write_table(docs, os.path.join(d, "documents.parquet"))
    pq.write_table(emb, os.path.join(d, "embeddings.parquet"))


def corpus_stats(d: str) -> dict:
    """The shape of ``d/documents.parquet`` that the near-dup operators'
    costs depend on: vocabulary, text lengths, duplicate shares and the
    share of distinct word n-grams (distinct n-grams of the corpus over
    the sum of each document's distinct n-grams)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(d, "documents.parquet"), columns=["text", "lang"])
    texts = t.column("text").to_pylist()
    toks = [x.split(" ") for x in texts]
    lens = [len(x) for x in toks]

    def shingle_share(n: int) -> float:
        per_doc = [{tuple(x[i:i + n]) for i in range(len(x) - n + 1)} for x in toks]
        return round(len(set().union(*per_doc)) / sum(len(p) for p in per_doc), 4)

    return {
        "docs": len(texts),
        "distinct_text_share": round(len(set(texts)) / len(texts), 4),
        "vocabulary": len({w for x in toks for w in x}),
        "tokens_min": min(lens),
        "tokens_mean": round(sum(lens) / len(lens), 2),
        "tokens_max": max(lens),
        "near_dup_share": round(sum(x.endswith(" dup") for x in texts) / len(texts), 4),
        "distinct_3shingle_share": shingle_share(3),
        "distinct_4shingle_share": shingle_share(4),
        "lang_en_share": round(t.column("lang").to_pylist().count("en") / len(texts), 4),
    }


def make_replica(src: str, dst: str, copies: int) -> None:
    """``copies`` key-shifted copies of each table, as make_sf_replica does."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from make_sf_replica import SHIFT_COLS, STRIDE

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(src, f"{t}.parquet")
            cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]
            proj = ", ".join(
                f"({c} + r.i * {STRIDE})::BIGINT AS {c}" if c in SHIFT_COLS[t] else c for c in cols
            )
            con.execute(
                f"COPY (SELECT {proj} FROM read_parquet('{path}') t, range({copies}) r(i) "
                f"ORDER BY r.i, {SHIFT_COLS[t][0]}) TO '{os.path.join(dst, t + '.parquet')}' (FORMAT PARQUET)"
            )
    finally:
        con.close()


def prepare(run_dir: str, seed: int, seconds: float) -> dict:
    make_base(os.path.join(run_dir, "base"), seed, BASE_DOCS)
    make_replica(os.path.join(run_dir, "base"), os.path.join(run_dir, "dup10"), COPIES)
    make_base(os.path.join(run_dir, "warm_base"), seed + 1, WARM_BASE_DOCS)
    make_replica(os.path.join(run_dir, "warm_base"), os.path.join(run_dir, "warm"), COPIES)
    return {
        "sf_dir": os.path.join(run_dir, "dup10"),
        "warm_dir": os.path.join(run_dir, "warm"),
        "order": random.Random(seed).sample(QUERIES, len(QUERIES)),
    }


def query_fns() -> dict:
    import bench
    from amazon_kinesis_analytics_streaming_etl_spark.plans.catalog import QUERIES as CATALOG

    raw = bench._raw_operator_overrides()
    return {q: raw.get(q) or CATALOG[q] for q in QUERIES}


# --- oracles ------------------------------------------------------------------


def oracle_results(sf_dir: str) -> dict:
    """DuckDB reference results for every query on ``sf_dir``. The raw
    operators get what their checks need: the exact near-dup pairs and
    every vector's cosine to vector 0."""
    import duckdb

    from amazon_kinesis_analytics_streaming_etl_spark.plans.catalog import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")  # runs beside the Spark warm-up
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for q in QUERIES:
            if q in RAW:
                continue
            rel = con.sql(ORACLES[q])
            out[q] = ([d[0] for d in rel.description], rel.fetchall())
        out["cosine_to_0"] = dict(con.sql(
            "SELECT b.vec_id, list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])) FROM embeddings b, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 0) q"
        ).fetchall())
        return out
    finally:
        con.close()


def check_result(name: str, cols: list[str], rows: list[tuple], oracle: dict) -> str | None:
    """None when the Spark result matches its reference, else why not."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import canon_rows

    if name == "dedup_minhash_lsh":
        ocols, orows = oracle["dedup_ngram_jaccard"]
        exact = {(r[ocols.index("id_a")], r[ocols.index("id_b")]): r[ocols.index("jaccard")] for r in orows}
        got = {(r[cols.index("id_a")], r[cols.index("id_b")]): r[cols.index("jaccard")] for r in rows}
        if not set(got) <= set(exact):
            return "lsh pairs outside the exact near-dup pairs"
        if any(abs(round(j, 6) - exact[p]) > 1e-9 for p, j in got.items()):
            return "lsh pair jaccard differs from the exact one"
        if not {p for p, j in exact.items() if j == 1.0} <= set(got):
            return "lsh missed an exact-duplicate pair"
        return None
    if name == "sim_topk_lsh":
        cos = oracle["cosine_to_0"]
        ids = [r[cols.index("vec_id")] for r in rows]
        if len(rows) != 10 or 0 not in ids:
            return f"lsh top-k returned {len(rows)} rows, self found: {0 in ids}"
        if any(abs(r[cols.index("cos_sim")] - round(cos[r[cols.index("vec_id")]], 6)) > 1e-6 for r in rows):
            return "lsh top-k similarity differs from the exact cosine"
        return None
    ocols, orows = oracle[name]
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != {sorted(ocols)}"
    if canon_rows(cols, rows) != canon_rows(ocols, orows):
        return f"rows differ from the oracle ({len(rows)} vs {len(orows)})"
    return None


def fingerprint(df) -> str:
    """Order-insensitive all-column fingerprint: sum of row xxhash64."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    return str(df.agg(F.sum(h)).collect()[0][0])


# --- untimed passes: correctness and warm-up ----------------------------------------


def warm_up(spark, run_dir: str, inputs: dict, trace: bool) -> float:
    """Untimed: a correctness pass over the small replica. Each result is
    compared with its DuckDB oracle, computed meanwhile on another thread
    (on the measured replica the oracles take minutes, text_repetition
    alone ~50 s), and the materialization guard checks that the ``noop``
    write's optimized plan keeps every operator of the query's own
    optimized plan, so ``count()``-style pruning cannot creep back."""
    from spans import register_qe_recorder

    box: dict = {}

    def oracles():
        try:
            box["oracle"] = oracle_results(inputs["warm_dir"])
        except Exception as e:  # reported as a failed check, not a crash
            box["error"] = f"{type(e).__name__}: {e}"

    th = threading.Thread(target=oracles)
    th.start()
    t0 = time.perf_counter()
    fns = query_fns()
    qer = register_qe_recorder(spark)
    problems: dict[str, str] = {}
    results: dict[str, tuple] = {}
    try:
        for name, fn in fns.items():
            try:
                df = fn(spark, inputs["warm_dir"])
                own = plan_operators(df._jdf.queryExecution().optimizedPlan().toString())
                seen = len(qer.events)
                df.write.format("noop").mode("overwrite").save()
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # a failed query is a failed operation
                problems[name] = f"{type(e).__name__}: {str(e)[:200]}"
                continue
            writes = []
            deadline = time.time() + 10
            while not writes and time.time() < deadline:
                writes = [e for e in qer.events[seen:] if e["func"] == "overwrite"]
                time.sleep(0.01)
            # operators of the query's own plan that the write's plan lacks
            lost = own - writes[0]["plan_ops"] if writes else None
            if lost is None:
                problems[name] = "materialization guard: no plan recorded for the noop write"
            elif lost:
                problems[name] = f"materialization guard: the noop write's plan lacks {dict(lost)}"
    finally:
        spark._jsparkSession.listenerManager().unregister(qer)
    warm_s = time.perf_counter() - t0
    th.join()
    for name, (cols, rows) in results.items():
        why = check_result(name, cols, rows, box["oracle"]) if "oracle" in box else f"oracle failed: {box['error']}"
        if why and name not in problems:
            problems[name] = why
    inputs["warm_problems"] = problems
    return warm_s


# --- measured passes ----------------------------------------------------------------


def one_pass(spark, inputs, fns, pass_no, tracer, probes, writes) -> dict:
    """Construct and materialize every query once, in the seeded order.
    ``writes`` numbers the run's ``noop`` writes, which is how the
    query-execution listener's events are matched to queries.
    ``probes`` (traced passes only) adds py4j counts, eager-job counts
    and session storage after each query."""
    sc = spark.sparkContext
    rec: dict = {"queries": {}, "errors": {}, "dfs": {}}
    t_pass = time.perf_counter()
    for name in inputs["order"]:
        trace_id = f"{name}#{pass_no}"
        try:
            with tracer.span("query", trace_id):
                t0 = time.perf_counter()
                with tracer.span("construct", trace_id):
                    if probes is None:
                        df = fns[name](spark, inputs["sf_dir"])
                    else:
                        sc.setJobGroup(trace_id, name)
                        with probes["py4j"].counting() as calls:
                            df = fns[name](spark, inputs["sf_dir"])
                        eager = len(sc.statusTracker().getJobIdsForGroup(trace_id))
                t1 = time.perf_counter()
                with tracer.span("write", trace_id):
                    write_no = next(writes)
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
        except Exception as e:  # a failed query is a failed operation
            rec["errors"][name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        q = {"construct_s": t1 - t0, "write_s": t2 - t1, "latency_s": t2 - t0, "write_no": write_no}
        if probes is not None:
            q.update(py4j_calls=calls(), eager_jobs=eager, **session_storage(spark))
        rec["queries"][name] = q
        rec["dfs"][name] = df
    if probes is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rec["pass_s"] = time.perf_counter() - t_pass
    return rec


def run(spark, run_dir: str, seed: int, seconds: float, trace: bool, sampler, inputs: dict) -> dict:
    fns = query_fns()
    tracer = Tracer()
    probes = None
    if trace:
        from spans import Py4jCounter, register_qe_recorder

        probes = {"py4j": Py4jCounter(spark), "qer": register_qe_recorder(spark)}
    writes = itertools.count()
    passes: list[dict] = []
    t_end = time.perf_counter() + seconds
    with sampler:
        while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
            # traced runs alternate untraced and traced passes: their
            # difference is the tracing overhead (understated by the drift
            # of a warming JVM, as the traced passes come later)
            traced = trace and len(passes) % 2 == 1
            tracer.enabled = traced
            p = one_pass(spark, inputs, fns, len(passes), tracer, probes if traced else None, writes)
            tracer.enabled = False
            p["traced"] = traced
            passes.append(p)
            if len(passes) > 2:  # only the first and last passes' results are checked
                passes[-2].pop("dfs")

    # outside the measured region: the first and the last pass's results
    # must have the same fingerprints
    t_check = time.perf_counter()
    fingerprints = {n: fingerprint(df) for n, df in passes[0].pop("dfs").items()}
    problems, failed = [], 0
    attempted = sum(len(p["queries"]) + len(p["errors"]) for p in passes) + len(QUERIES)
    for p in passes:
        for name, err in p["errors"].items():
            failed += 1
            problems.append(f"{name}: {err}")
    for name, why in inputs["warm_problems"].items():
        failed += 1
        problems.append(f"{name} (checked on the small replica): {why}")
    for name, df in passes[-1].pop("dfs").items():
        if fingerprint(df) != fingerprints.get(name):
            failed += 1
            problems.append(f"{name}: fingerprint differs between the first and the last pass")
    check_s = time.perf_counter() - t_check

    lat = [q["latency_s"] for p in passes for q in p["queries"].values()]
    query_s = {
        q: median([p["queries"][q]["latency_s"] for p in passes if q in p["queries"]])
        for q in QUERIES
        if any(q in p["queries"] for p in passes)
    }
    pass_times = [p["pass_s"] for p in passes if not p["errors"]]
    per_query = sorted(query_s.values())
    e2e = {
        # percentiles of the per-query medians: eight queries of very
        # different cost put the percentiles of all samples on a cliff
        # between two of them, and a pass has too few samples for a p99
        "latency_p50_s": median(per_query) if per_query else None,
        "latency_p99_s": (
            statistics.quantiles(per_query, n=100, method="inclusive")[98] if len(per_query) > 1 else None
        ),
        "pass_s": median(pass_times) if pass_times else None,
    }
    detail = {
        "sf": SF,
        "variant": VARIANT,
        "documents": BASE_DOCS * COPIES,
        "order": inputs["order"],
        "passes": len(passes),
        "pass_s_all": [round(p["pass_s"], 4) for p in passes],
        "query_s": query_s,
        "fingerprints": fingerprints,
        "check_s": round(check_s, 4),
        "latency_samples": len(lat),
        "latency_p90_s": percentile(lat, 90),
    }
    out = {
        "e2e": e2e,
        "check": {"attempted": attempted, "failed": failed, "problems": problems},
        "detail": detail,
    }
    if trace:
        out["tracer"] = tracer
        out["trace_records"] = [
            {"kind": "pass", "pass": i, **{k: v for k, v in p.items() if k != "errors"}}
            for i, p in enumerate(passes)
        ]
        out["finish_trace"] = lambda stages, jobs: query_layers(passes, probes["qer"], next(writes), stages)
    return out


def query_layers(passes: list[dict], qer, n_writes: int, stages: list[dict]) -> dict:
    """Per traced pass sums, median over traced passes. The Catalyst and
    execution times are those of each query's own ``noop`` write."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    writes = qer.wait_for(n_writes, func="overwrite")

    def per_pass(fn):
        return median([fn(p) for p in traced]) if traced else 0.0

    def write_sum(p, key):
        return sum(writes[q["write_no"]].get(key, 0) for q in p["queries"].values() if q["write_no"] < len(writes))

    layers = {
        "plans.construct_s": per_pass(lambda p: sum(q["construct_s"] for q in p["queries"].values())),
        "plans.eager_jobs": per_pass(lambda p: sum(q["eager_jobs"] for q in p["queries"].values())),
        "plans.py4j_calls": per_pass(lambda p: sum(q["py4j_calls"] for q in p["queries"].values())),
        "exec.execute_s": per_pass(lambda p: write_sum(p, "execute_s")),
    }
    for ph in ("analysis", "optimization", "planning"):
        layers[f"catalyst.{ph}_ms"] = per_pass(lambda p, ph=ph: write_sum(p, f"{ph}_ms"))
    groups = [stage_totals([s for s in stages if (s["group"] or "").endswith(f"#{passes.index(p)}")])
              for p in traced]
    for k in ("tasks", "stages", "shuffle_write_bytes", "shuffle_records", "spill_bytes", "executor_cpu_s"):
        layers[f"exec.{k}"] = median([g[k] for g in groups]) if groups else 0.0
    last = [q for q in traced[-1]["queries"].values()] if traced else []
    layers["session.persistent_rdds"] = last[-1]["persistent_rdds"] if last else 0
    layers["session.storage_mem_bytes"] = last[-1]["storage_mem_bytes"] if last else 0
    layers["trace.overhead_s"] = (
        median([p["pass_s"] for p in traced]) - median([p["pass_s"] for p in untraced])
        if traced and untraced else 0.0
    )
    return layers


if __name__ == "__main__":
    for d in sys.argv[1:]:
        print(json.dumps({"dir": d, **corpus_stats(d)}))
