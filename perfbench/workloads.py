"""The workloads and the metrics they report.

Every workload reports every metric of BENCHMARK.json. End-to-end
metrics are defined per workload by its operation: a maintenance cycle
(full rebuild, then one micro-batch) in bulk_build, one query in
search_mixed. Per-layer metrics of the layers a workload never calls
(``IDLE``) read 0; every other one must be measured.
"""

from __future__ import annotations

import fnmatch
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import corpus
from instruments import DRIVER_MEM, cpus, dir_bytes, plan_shape, summary
from oracle import Oracle, analyze, check_ranked

K = 10
BULK_PAGES = 5_000
SEARCH_PAGES = 5_000
BATCH_PAGES = 1_000
WARM_PAGES = 1_000  # the slice bulk_build's set-up builds
DELETES = 20
SETUP_REPS = 3  # set-ups per run; setup_s takes their median
MIN_CYCLES = 3  # bulk_build operations per run, at least
MIN_ROUNDS = 3  # search_mixed rounds (one query of each class) per run, at least
COMPACT_AT_UNITS = 1  # merge policy: compact as soon as an epoch is live
STORE = ("lang",)
CLASSES = ("or_head", "or_tail", "and", "msm", "dsl_bool", "phrase", "count", "facet")
RELATIONS = ("postings", "docmap", "range_dls", "term_stats", "positions")

# Per-layer metrics (fnmatch patterns) of layers the workload never calls.
IDLE = {
    "bulk_build": (
        "positions.*", "storage.index_bytes.positions", "wand.searcher_open_s",
        "wand.plan_ms", "wand.exec_ms", "wand.query_postings", "wand.topk_*",
        "wand.match_count_ms", "wand.facet_terms_ms", "searchapi.*",
        "spark.*_per_query.*", "plan.*",
    ),
    "search_mixed": (
        "ingest*", "deletes.*", "compaction.*", "wand.reopen_s", "spark.jobs_per_epoch",
    ),
}


def idle_metrics(workload: str, names) -> list[str]:
    """The names among ``names`` that ``workload`` reports as 0."""
    return [n for n in names if any(fnmatch.fnmatchcase(n, p) for p in IDLE[workload])]


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _text_bytes(rows) -> int:
    return sum(len(r[3].encode("utf-8")) for r in rows)


def _tokens(rows) -> int:
    return sum(len(analyze(r[3])) for r in rows)


def _index_bytes(idx: str) -> int:
    return sum(dir_bytes(os.path.join(idx, r)) for r in RELATIONS)


def _doc_ids(idx: str, urls: list[str]) -> np.ndarray:
    """Engine doc id of each url, read back from the docmap (benchmark work)."""
    t = pq.read_table(os.path.join(idx, "docmap"), columns=["doc_id", "url"])
    by_url = dict(zip(t.column("url").to_pylist(), t.column("doc_id").to_pylist()))
    return np.array([by_url[u] for u in urls], dtype=np.int64)


def _build(run, pages, idx: str, positions: bool = False) -> dict:
    """build_index (+ build_position_index): the counters and stage times,
    and the build's Spark job counts."""
    from kafka_es_spark.operators.positions import build_position_index
    from kafka_es_spark.plans.build_index import build_index

    counts: dict = {}
    t0 = time.perf_counter()
    with run.counts.group(counts):
        with run.span("plans.build_index"):
            man = build_index(run.spark, pages, idx, n_term_buckets=run.buckets, store_fields=STORE)
    t1 = time.perf_counter()
    shard = man["shard-00000"]
    out = {
        "build_index.total_s": t1 - t0,
        "build_index.extract_docids_s": man["extract_docids"]["elapsed_sec"],
        "build_index.docmap_s": man["docmap"]["elapsed_sec"],
        "build_index.range_dls_s": man["range_dls"]["elapsed_sec"],
        "build_index.shards_s": shard["elapsed_sec"],
        "build_index.term_stats_s": man["term_stats"]["elapsed_sec"],
        "build_index.docs": man["docmap"]["docs"],
        "build_index.tokens": man["docmap"]["tokens"],
        "build_index.segments": shard["segments"],
        "build_index.postings": shard["postings"],
        "build_index.terms": man["term_stats"]["terms"],
    }
    out.update({f"spark.{k}_per_build": v for k, v in counts.items()})
    rels = RELATIONS
    if positions:
        with run.span("operators.positions.build_position_index"):
            pos = build_position_index(run.spark, pages, idx)
        out.update({
            "positions.build_position_index_s": time.perf_counter() - t1,
            "positions.segments": pos["segments"],
            "positions.postings": pos["postings"],
        })
    else:
        rels = RELATIONS[:-1]
    for r in rels:
        out[f"storage.index_bytes.{r}"] = dir_bytes(os.path.join(idx, r))
    return out


def _check_corpus_counts(run, what: str, got: dict, rows) -> None:
    want = (len(rows), _tokens(rows))
    run.check(what, (got["build_index.docs"], got["build_index.tokens"]),
              lambda g: None if g == want else f"docs/tokens {g} != corpus {want}")


_DETERMINISTIC = (
    "build_index.docs", "build_index.tokens", "build_index.segments",
    "build_index.postings", "build_index.terms", "storage.index_bytes.postings",
    "storage.index_bytes.term_stats",
)


def _same_build(ref: dict):
    def verdict(got: dict):
        diff = [k for k in _DETERMINISTIC if got[k] != ref[k]]
        return f"counters differ from the first rebuild: {diff}" if diff else None

    return verdict


# --- bulk_build ---------------------------------------------------------------

def bulk_build(run) -> dict:
    name = f"bulk-{BULK_PAGES}-{run.seed}"
    doomed = f"zdeleted{run.seed}"  # only in row 0, which is always tombstoned
    rows = corpus.cached_rows(
        run.cache, name, lambda: corpus.gen_rows(BULK_PAGES, run.seed, "bulk", doomed))
    path = corpus.input_file(run.cache, name, rows, with_text=False)
    warm_rows = rows[:WARM_PAGES]
    warm_path = corpus.input_file(run.cache, f"{name}-head{WARM_PAGES}", warm_rows, with_text=False)
    sentinel = f"zsentinel{run.seed}"
    bname = f"batch-{BATCH_PAGES}-{run.seed}"
    brows = corpus.cached_rows(
        run.cache, bname, lambda: corpus.gen_rows(BATCH_PAGES, run.seed + 1, "batch", sentinel))
    bpath = corpus.input_file(run.cache, bname, brows, with_text=True)
    rng = np.random.default_rng(run.seed)

    spark = run.start_session()
    run.buckets = cpus()
    for i in range(SETUP_REPS):  # warm-up builds of a slice; the first is cold
        with run.setup_rep():
            warm = _build(run, spark.read.parquet(warm_path), os.path.join(run.tmp, f"warm-{i}"))
        _check_corpus_counts(run, f"set-up build {i}", warm, warm_rows)
        shutil.rmtree(os.path.join(run.tmp, f"warm-{i}"), ignore_errors=True)
    run.end_setup()
    pages = spark.read.parquet(path)

    builds: list[dict] = []
    ref = ratio = ids = None
    run.start_loop()
    while run.more(len(builds), MIN_CYCLES):
        # one maintenance cycle: a full rebuild, then a micro-batch on it
        n = len(builds)
        idx = os.path.join(run.tmp, f"idx-{n}")
        run.tracer.op += 1
        with run.span("cycle"):
            t0 = time.perf_counter()
            got = _build(run, pages, idx)
            t_build = time.perf_counter() - t0
            got_ratio = _index_bytes(idx) / _text_bytes(rows)
            if ref is None:
                ref, ratio, ids = got, got_ratio, _doc_ids(idx, [r[0] for r in rows])
                _check_corpus_counts(run, "rebuild 0", got, rows)
            else:
                run.check(f"rebuild {n}", got, _same_build(ref))
                run.check(f"rebuild {n} bytes/text", got_ratio,
                          lambda r: None if r == ratio else f"index_bytes_per_text_byte {r} != {ratio}")
            dead = sorted({int(ids[0])} | {int(ids[i]) for i in rng.choice(len(rows), DELETES, replace=False)})
            t_ingest = _ingest(run, idx, bpath, brows, dead, f"{sentinel} {doomed}")
        run.record_op("cycle", t_build + t_ingest)
        run.end_round()
        builds.append(got)
        if n:
            shutil.rmtree(os.path.join(run.tmp, f"idx-{n - 1}"), ignore_errors=True)
    m = dict.fromkeys(idle_metrics("bulk_build", run.per_layer_names), 0.0)
    for key in builds[0]:
        m[key] = _med([b[key] for b in builds])
    m["build_docs_per_s"] = len(rows) * len(builds) / sum(b["build_index.total_s"] for b in builds)
    for k, v in run.samples.items():
        if not k.startswith("op."):
            m[k] = _med(v)
    _codec_and_extract(run, idx, rows, m)
    return _finish(run, m, ratio)


def _ingest(run, idx, bpath, brows, dead, probe) -> float:
    """One micro-batch in the reference's job shape: append the
    pre-extracted pages as an epoch, tombstone earlier pages, open a
    Searcher and run the probe, then apply the merge policy. ``probe``
    holds the batch's sentinel token and a token found only in a
    tombstoned page: the refresh is complete when it returns the sentinel
    page and nothing else. Returns the seconds spent in the program's
    write path (append, deletes, merge policy, compaction); the reopen and
    probe are timed per layer only, so query-side changes stay out of the
    bulk_build operation."""
    from kafka_es_spark.operators.compaction import compact_index, should_compact
    from kafka_es_spark.operators.deletes import add_tombstones
    from kafka_es_spark.operators.wand import Searcher
    from kafka_es_spark.streaming.ingest_stream import append_epoch

    spark = run.spark
    writes: dict = {}
    merges: dict = {}
    t0 = time.perf_counter()
    with run.counts.group(writes):
        with run.span("streaming.ingest_stream.append_epoch"):
            append_epoch(spark, spark.read.parquet(bpath), idx, 1,
                         n_term_buckets=run.buckets, store_fields=STORE)
        t1 = time.perf_counter()
        with run.span("operators.deletes.add_tombstones"):
            add_tombstones(spark, idx, doc_ids=dead)
    t2 = time.perf_counter()
    with run.span("operators.wand.reopen"):
        searcher = Searcher(spark, idx)
    t3 = time.perf_counter()
    with run.span("operators.wand.plan"):
        df = searcher.topk(probe, k=K)
    with run.span("operators.wand.exec"):
        got = [int(r["doc_id"]) for r in df.collect()]
    t4 = time.perf_counter()
    units = len([d for d in os.listdir(os.path.join(idx, "postings")) if d.startswith("shard=")])
    sid = int(_doc_ids(idx, [brows[0][0]])[0])
    run.check("probe after refresh", got, lambda g: None if g == [sid] else f"{g} != [{sid}]")
    searcher.close()  # quiesce readers before the swap
    t5 = time.perf_counter()
    with run.counts.group(merges):
        with run.span("operators.compaction.should_compact"):
            due = should_compact(spark, idx, max_units=COMPACT_AT_UNITS)
        t6 = time.perf_counter()
        with run.span("operators.compaction.compact_index"):
            compact_index(spark, idx)
    t7 = time.perf_counter()
    run.check("merge policy", due, lambda d: None if d else "should_compact said no")
    timed = (t2 - t0) + (t7 - t5)
    for k, v in {
        "ingest_stream.append_epoch_s": t1 - t0,
        "deletes.add_tombstones_s": t2 - t1,
        "wand.reopen_s": t3 - t2,
        "ingest.units_live_mean": units,
        "ingest.refresh_ms": (t4 - t0) * 1e3,
        "compaction.should_compact_ms": (t6 - t5) * 1e3,
        "compaction.compact_index_s": t7 - t6,
        "compaction.bytes_rewritten": _index_bytes(idx),
        "ingest_docs_per_s": len(brows) / timed,
        "spark.jobs_per_epoch": writes.get("jobs", 0) + merges.get("jobs", 0),
    }.items():
        run.sample(k, v)
    return timed


# --- search_mixed -------------------------------------------------------------

def search_mixed(run) -> dict:
    from kafka_es_spark.operators.wand import Searcher

    name = f"search-{SEARCH_PAGES}-{run.seed}"
    rows = corpus.cached_rows(run.cache, name, lambda: corpus.gen_rows(SEARCH_PAGES, run.seed, "search"))
    path = corpus.input_file(run.cache, name, rows, with_text=True)
    rng = np.random.default_rng(run.seed)

    spark = run.start_session()
    run.buckets = cpus()
    reps: list[dict] = []
    searcher = idx = None
    for i in range(SETUP_REPS):  # the first is cold; the last one is served
        if searcher is not None:
            searcher.close()
            shutil.rmtree(idx, ignore_errors=True)
        idx = os.path.join(run.tmp, f"idx-{i}")
        with run.setup_rep():
            built = _build(run, spark.read.parquet(path), idx, positions=True)
            t0 = time.perf_counter()
            with run.span("operators.wand.Searcher"):
                searcher = Searcher(spark, idx)
            built["wand.searcher_open_s"] = time.perf_counter() - t0
        _check_corpus_counts(run, f"set-up build {i}", built, rows)
        reps.append(built)
    run.end_setup()
    gen = QueryGen(rows, rng)
    for cls in CLASSES:  # one untimed round, so the loop starts warm
        _run_query(run, searcher, idx, cls, gen.make(cls), None, timed=False)

    oracle = Oracle([r[3] for r in rows], [r[4] for r in rows], _doc_ids(idx, [r[0] for r in rows]))
    run.start_loop()
    while run.more(len(run.rounds), MIN_ROUNDS):  # whole rounds, so every run holds the same class mix
        for cls in rng.permutation(CLASSES):
            _run_query(run, searcher, idx, str(cls), gen.make(str(cls)), oracle)
        run.end_round()
    searcher.close()
    m = dict.fromkeys(idle_metrics("search_mixed", run.per_layer_names), 0.0)
    for key in reps[0]:
        m[key] = _med([r[key] for r in reps])
    m["build_docs_per_s"] = len(rows) / m["build_index.total_s"]
    _query_layers(run, m)
    _codec_and_extract(run, idx, rows, m)
    return _finish(run, m, _index_bytes(idx) / _text_bytes(rows))


class QueryGen:
    """Seeded query texts per class, drawn from the corpus vocabulary."""

    def __init__(self, rows, rng):
        self.rng = rng
        self.head = corpus.VOCAB["en"][:8]
        self.mid = corpus.VOCAB["en"][4:24]
        self.shared = [w for w in corpus.VOCAB["en"] if w in corpus.VOCAB["de"]] + corpus.VOCAB["de"][4:14]
        self.tail = [f"t{i:04d}" for i in range(corpus.tail_vocab(len(rows)))]
        self.texts = [r[3] for r in rows if len(r[3]) > 40]

    def _pick(self, pool, lo, hi) -> list[str]:
        n = int(self.rng.integers(lo, hi + 1))
        return [str(w) for w in self.rng.choice(pool, size=n, replace=False)]

    def make(self, cls: str) -> dict:
        r = self.rng
        if cls == "or_head":
            return {"q": " ".join(self._pick(self.head, 2, 4))}
        if cls == "or_tail":
            return {"q": " ".join(self._pick(self.tail, 1, 3))}
        if cls == "and":
            return {"q": " ".join(self._pick(self.mid, 2, 2))}
        if cls == "msm":
            return {"q": " ".join(self._pick(self.mid, 3, 3)), "msm": 2}
        if cls == "dsl_bool":
            w = self._pick(self.mid, 3, 3)
            return {"q": " ".join(w[:2]), "not": w[2], "min_dl": int(r.integers(30, 90))}
        if cls == "phrase":
            toks = analyze(self.texts[int(r.integers(0, len(self.texts)))])
            p = int(r.integers(2 * 4, len(toks) - 1))  # past the doubled title
            return {"q": f"{toks[p]} {toks[p + 1]}", "slop": int(r.choice([0, 2]))}
        if cls == "count":
            return {"q": " ".join(self._pick(self.mid, 2, 2)), "mode": str(r.choice(["or", "and"]))}
        return {"q": " ".join(self._pick(self.shared, 1, 2))}


def _run_query(run, searcher, idx, cls, spec, oracle, timed=True):
    """One query of class ``cls``: call (plan), collect (exec), check."""
    from kafka_es_spark.operators.positions import phrase_topk
    from kafka_es_spark.operators.searchapi import search

    q = spec["q"]
    layer = {"dsl_bool": "operators.searchapi", "phrase": "operators.positions"}.get(cls, "operators.wand")
    counts: dict = {}

    def call():
        if cls in ("or_head", "or_tail"):
            return searcher.topk(q, k=K)
        if cls == "and":
            return searcher.topk(q, k=K, mode="and")
        if cls == "msm":
            return searcher.topk(q, k=K, min_should_match=spec["msm"])
        if cls == "dsl_bool":
            body = {"query": {"bool": {
                "must": [{"match": {"text": q}}],
                "filter": [{"range": {"dl": {"gte": spec["min_dl"]}}}],
                "must_not": [{"match": {"text": spec["not"]}}],
            }}, "size": K}
            return search(searcher, body)
        if cls == "phrase":
            return phrase_topk(run.spark, idx, q, k=K, slop=spec["slop"])
        if cls == "count":
            return searcher.match_count(q, mode=spec["mode"])
        return searcher.facet_terms(q, None, "lang", size=K)

    def go():
        with run.span(f"{layer}.plan"):
            df = call()
        with run.span(f"{layer}.exec"):
            return df, df.collect()

    if not timed:
        go()
        return
    with run.op(cls, counts):
        df, got = go()
    if run.trace:
        for k, v in counts.items():
            run.sample(f"spark.{k}_per_query.{cls}", v)
        if f"plan.exchanges.{cls}" not in run.values:
            t0 = time.perf_counter()
            ex, bc = plan_shape(df)
            run.plan_s += time.perf_counter() - t0
            run.values[f"plan.exchanges.{cls}"] = ex
            run.values[f"plan.broadcasts.{cls}"] = bc
        if cls in ("or_head", "or_tail", "and", "msm"):
            run.sample("wand.query_postings", sum(oracle.df(t) for t in set(analyze(q))))
    _check_query(run, cls, spec, got, oracle)


def _check_query(run, cls, spec, got, oracle) -> None:
    q = spec["q"]
    if cls == "count":
        want = oracle.count(q, spec["mode"])
        run.check(f"{cls} {spec}", int(got[0]["n_hits"]),
                  lambda n: None if n == want else f"{n} hits, oracle {want}")
        return
    if cls == "facet":
        want = oracle.facet(q, K)
        run.check(f"{cls} {spec}", [(r["lang"], int(r["doc_count"])) for r in got],
                  lambda g: None if g == want else f"{g} != oracle {want}")
        return
    if cls == "phrase":
        want = oracle.phrase(q, spec["slop"])
    elif cls == "dsl_bool":
        want = oracle.topk(q, must_not=spec["not"], min_dl=spec["min_dl"])
    elif cls == "and":
        want = oracle.topk(q, mode="and")
    else:
        want = oracle.topk(q, msm=spec.get("msm"))
    ranked = [(int(r["doc_id"]), float(r["score"])) for r in got]
    run.check(f"{cls} {spec}", ranked, lambda g: check_ranked(g, want, K))


# --- shared metric plumbing -----------------------------------------------------

def _query_layers(run, m: dict) -> None:
    op = lambda c: _med(run.samples.get(f"op.{c}", [])) * 1e3  # noqa: E731
    for c in ("or_head", "or_tail", "and", "msm"):
        m[f"wand.topk_{c}_ms"] = op(c)
    m["wand.match_count_ms"] = op("count")
    m["wand.facet_terms_ms"] = op("facet")
    m["searchapi.search_ms"] = op("dsl_bool")
    m["positions.phrase_topk_ms"] = op("phrase")
    st = run.tracer.self_times()
    m["wand.plan_ms"] = _med(st.get("operators.wand.plan", [])) * 1e3
    m["wand.exec_ms"] = _med(st.get("operators.wand.exec", [])) * 1e3
    m["wand.query_postings"] = _med(run.samples.get("wand.query_postings", []))
    for k, v in run.samples.items():
        if k.startswith("spark.") and "_per_query." in k:
            m[k] = _med(v)
    m.update({k: v for k, v in run.values.items() if k.startswith("plan.")})


def _codec_and_extract(run, idx: str, rows, m: dict) -> None:
    """Layer microbenchmarks on the run's own data (traced runs only):
    varint decode/encode over the index's segment blobs, and the
    extractor over a sample of the corpus html."""
    if not run.trace:
        return
    from kafka_es_spark.functions.codecs import varint_decode, varint_encode
    from kafka_es_spark.functions.extract import extract_text_py

    t = pq.read_table(os.path.join(idx, "postings"), columns=["docs_blob", "df_seg"])
    blobs = t.column("docs_blob").to_pylist()
    counts = t.column("df_seg").to_pylist()
    nbytes = sum(len(b) for b in blobs)
    t0 = time.perf_counter()
    with run.span("functions.codecs.varint_decode"):
        decoded = [varint_decode(b, c) for b, c in zip(blobs, counts)]
    dec = time.perf_counter() - t0
    t0 = time.perf_counter()
    with run.span("functions.codecs.varint_encode"):
        again = [varint_encode(a) for a in decoded]
    enc = time.perf_counter() - t0
    run.check("varint round trip", again == blobs, lambda ok: None if ok else "re-encoded blobs differ")
    m["codecs.varint_decode_mb_per_s"] = nbytes / dec / 1e6
    m["codecs.varint_encode_mb_per_s"] = nbytes / enc / 1e6
    sample = [r[2] for r in rows[:2000]]
    t0 = time.perf_counter()
    with run.span("functions.extract.extract_text_py"):
        texts = [extract_text_py(h) for h in sample]
    m["extract.extract_text_py_us_per_page"] = (time.perf_counter() - t0) / len(sample) * 1e6
    run.check("extract sample", texts, lambda g: None if g == [r[3] for r in rows[:2000]]
              else "extracted text differs from the corpus text")


def _finish(run, m: dict, ratio: float) -> dict:
    """Fold in the run-wide layer values; return end-to-end + per-layer."""
    m.update({k: v for k, v in run.values.items() if not k.startswith("plan.")})
    m["storage.cached_bytes_peak"] = run.sampler.peak_cached
    m["trace.spans"] = len(run.tracer.spans)
    # time the instrumentation itself took: span records, job groups and
    # status reads, executed-plan reads
    spent = len(run.tracer.spans) * run.tracer.cost_per_span() + run.counts.spent + run.plan_s
    m["trace.overhead_ms"] = spent * 1e3 if run.trace else 0.0
    # Medians of medians: per operation class, then across classes; per
    # round, then across rounds. One slow query then moves its class's
    # median or its round's rate, not the run's figure.
    per_class = [statistics.median(v) for k, v in run.samples.items() if k.startswith("op.")]
    m.update({
        "setup_s": run.setup_s,
        "op_p50_ms": statistics.median(per_class) * 1e3,
        "ops_per_s": statistics.median(n / t for n, t in run.rounds),
        "memory.peak_rss_mb": run.sampler.peak_rss / 2**20,
        "index_bytes_per_text_byte": ratio,
    })
    return m


def report(run, control_s: float) -> dict:
    return {
        "workload": run.workload,
        "seed": run.seed,
        "trace": int(run.trace),
        "cpus": cpus(),
        "driver_mem": DRIVER_MEM,
        "control_s": control_s,
        "ops": summary(run.op_times),
        "samples": {k: summary(v) for k, v in sorted(run.samples.items())},
        "self_s": {k: summary(v) for k, v in sorted(run.tracer.self_times().items())},
        "setup_s": run.setup_s,
        "setup_reps_s": run.setup_reps,
        "failures": run.failures,
    }


WORKLOADS = {"bulk_build": bulk_build, "search_mixed": search_mixed}
