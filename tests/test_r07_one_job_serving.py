"""One-job BM25 serving: the Searcher's resident segment rows carry their
term's global df (``df_term``) and both resident relations are
hash-partitioned by ``seg``.

Pinned here:

* plan/job shape — on a cached Searcher, building the DataFrame of topk
  (or/and/msm), match_count, relational_scores or range_filtered_topk
  runs no Spark job, and no Exchange sits below the pandas node outside
  the resident relations' cached lineage;
* df-in-rows parity — over a build plus two epoch units with pending
  tombstones, ids and 4-dp scores equal the exhaustive oracle (boosts,
  must_not sharing a query term, AND/OR/msm with terms absent from the
  index), for ``cache=True`` and ``cache=False`` alike;
* the validated dl gather — a truncated ``range_dls`` row raises instead
  of scoring with wrong dls.
"""

import os
import shutil

import numpy as np
import pytest

from pyspark.errors import PythonException
from pyspark.sql import functions as F

from kafka_es_spark.operators.deletes import add_tombstones
from kafka_es_spark.operators.wand import Searcher, exhaustive_topk_numpy
from kafka_es_spark.plans.build_index import build_index, prepare_docs
from kafka_es_spark.sources.pages import gen_pages
from kafka_es_spark.streaming.ingest_stream import append_epoch

SEG_BITS = 6
PANDAS_NODES = ("FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas")


def _units(spark):
    # unique urls per unit: the oracle maps corpus rows to index doc ids
    # through the docmap's url
    return [
        gen_pages(spark, n, seed=seed, partitions=2).withColumn(
            "url", F.concat(F.lit(f"u{i}:"), F.col("url"))
        )
        for i, (n, seed) in enumerate([(160, 7), (70, 8), (70, 9)])
    ]


@pytest.fixture(scope="module")
def multi_unit(spark, tmp_path_factory):
    """(index_dir, doc_terms, tombstoned ids): a build plus two
    append_epoch units, then pending delete tombstones."""
    idx = str(tmp_path_factory.mktemp("idx_r07"))
    base, e0, e1 = _units(spark)
    build_index(spark, base, idx, seg_bits=SEG_BITS, n_term_buckets=4)
    append_epoch(spark, e0, idx, epoch=0, seg_bits=SEG_BITS, n_term_buckets=4)
    append_epoch(spark, e1, idx, epoch=1, seg_bits=SEG_BITS, n_term_buckets=4)
    dm = spark.read.parquet(os.path.join(idx, "docmap")).select("doc_id", "url")
    doc_terms = (
        prepare_docs(base.unionByName(e0).unionByName(e1))
        .select("url", "terms")
        .join(dm, "url")
        .select("doc_id", "terms")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(doc_terms["doc_id"]) == list(range(len(doc_terms)))
    dead = [3, 64, 170, 201, 250]
    add_tombstones(spark, idx, doc_ids=dead)
    return idx, doc_terms, frozenset(dead)


@pytest.fixture(scope="module", params=[True, False], ids=["cache", "nocache"])
def searcher(request, spark, multi_unit):
    s = Searcher(spark, multi_unit[0], cache=request.param)
    yield s
    s.close()


def _oracle(doc_terms, dead, q, k=10, must=(), must_not=(), msm=None,
            boosts=None):
    """Exhaustive BM25 (index-level stats: tombstoned docs still count,
    ES semantics before a merge), then the bool filters on the result."""
    terms = doc_terms.set_index("doc_id")["terms"].map(set)
    qs = sorted(set(q.split()))
    rows = exhaustive_topk_numpy(doc_terms, qs, k=len(doc_terms),
                                 boosts=boosts)
    out = []
    for d, s in rows:
        have = terms[d]
        if d in dead or any(t in have for t in must_not):
            continue
        if not all(t in have for t in must):
            continue
        if msm is not None and sum(t in have for t in qs) < msm:
            continue
        out.append((d, round(s, 4)))
    return out[:k]


def _got(df):
    return [(int(r["doc_id"]), round(float(r["score"]), 4)) for r in df.collect()]


def test_parity_boosts(searcher, multi_unit):
    _, doc_terms, dead = multi_unit
    boosts = {"data": 2.5, "search": 0.5}
    want = _oracle(doc_terms, dead, "data index search", boosts=boosts)
    got = _got(searcher.topk("data index search", k=10, boosts=boosts))
    assert want and got == want


def test_parity_must_not_shares_a_query_term(searcher, multi_unit):
    _, doc_terms, dead = multi_unit
    want = _oracle(doc_terms, dead, "data index search", must_not=("index",))
    got = _got(searcher.topk("data index search", k=10, must_not="index"))
    assert want and got == want


def test_parity_and_msm_over_epochs(searcher, multi_unit):
    _, doc_terms, dead = multi_unit
    want = _oracle(doc_terms, dead, "data index", must=("data", "index"))
    assert want and _got(searcher.topk("data index", k=10, mode="and")) == want
    want = _oracle(doc_terms, dead, "data index query", msm=2)
    got = _got(searcher.topk("data index query", k=10, min_should_match=2))
    assert want and got == want
    want = _oracle(doc_terms, dead, "data query", k=len(doc_terms))
    got = sorted(_got(searcher.relational_scores("data query")))
    assert got == sorted(want)


@pytest.mark.parametrize(
    "query,kw",
    [
        ("data zzzabsent", {"mode": "and"}),
        ("zzzabsent qqqnothere", {}),
        ("data index zzzabsent", {"min_should_match": 3}),
    ],
    ids=["and_absent_term", "or_only_absent", "msm_above_present"],
)
def test_absent_terms_give_empty(searcher, query, kw):
    assert searcher.topk(query, k=10, **kw).collect() == []
    assert searcher.search_after_topk(query, k=10, **kw).collect() == []
    assert searcher.match_count(query, **kw).collect()[0]["n_hits"] == 0
    if not kw:
        assert searcher.relational_scores(query).collect() == []


def _jobs_while(sc, gid, fn):
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _children(node):
    """Children of a physical plan node, stepping into AQE query stages
    (whose wrapped plan is not a child). An InMemoryTableScan is a leaf:
    the resident relation's lineage — which ran once, when the relation
    materialized — is not part of the walk."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    kids = node.children()
    out = [kids.apply(i) for i in range(kids.size())]
    if not out and name.endswith("QueryStage"):
        out = [node.plan()]
    return out


def _exchanges_below_pandas(plan) -> list[str]:
    """Exchange nodes in the subtree of a pandas node, outside the
    resident relations' cached lineage."""
    found, stack, below = [], [(plan, False)], 0
    while stack:
        node, under = stack.pop()
        name = node.nodeName()
        under = under or name in PANDAS_NODES
        below += name in PANDAS_NODES
        if under and "Exchange" in name:
            found.append(name)
        stack.extend((c, under) for c in _children(node))
    assert below, "no pandas node in the plan"
    return found


def test_cached_queries_run_one_job_shape(spark, multi_unit):
    idx = multi_unit[0]
    s = Searcher(spark, idx)
    fv = s._docmap.select("url", F.col("dl").cast("double").alias("v"))
    ops = {
        "or": lambda: s.topk("data index search", k=10),
        "and": lambda: s.topk("data index", k=10, mode="and"),
        "msm": lambda: s.topk("data index query", k=10, min_should_match=2),
        "count": lambda: s.match_count("data index"),
        "relational": lambda: s.relational_scores("data index search"),
        "range_filtered": lambda: s.range_filtered_topk(
            "data index search", fv, "v", 10.0, 60.0, k=10
        ),
    }
    sc = spark.sparkContext
    try:
        for name, op in ops.items():
            op().collect()  # the resident relations fill on first use
            df, n_jobs = _jobs_while(sc, f"r07-pin-{name}", op)
            assert n_jobs == 0, f"{name}: {n_jobs} Spark job(s) before collect"
            df.collect()  # the executed plan is final once it has run
            plan = df._jdf.queryExecution().executedPlan()
            assert "InMemoryRelation" in plan.toString()
            stray = _exchanges_below_pandas(plan)
            assert not stray, f"{name}: {stray}\n{plan.toString()}"
        _, n_jobs = _jobs_while(
            sc, "r07-pin-topk-collect",
            lambda: s.topk("data index search", k=10).collect(),
        )
        assert n_jobs == 1
    finally:
        s.close()


def _truncate_range_dls(spark, idx, head: int, tail: int) -> None:
    """Rewrite the first range-dl row with ``head`` dls dropped from its
    front (first_docid moves up) and ``tail`` from its back."""
    from kafka_es_spark.functions import codecs

    rd = os.path.join(idx, "range_dls")
    pdf = spark.read.parquet(rd).toPandas()
    i = int(pdf["first_docid"].idxmin())
    r = pdf.loc[i]
    dls = codecs.varint_decode(bytes(r["dls_blob"]), int(r["n"]))
    keep = dls[head:len(dls) - tail].astype(np.uint64)
    pdf.at[i, "first_docid"] = int(r["first_docid"]) + head
    pdf.at[i, "n"] = int(keep.size)
    pdf.at[i, "dls_blob"] = codecs.varint_encode(keep)
    out = rd + ".trunc"
    spark.createDataFrame(pdf, spark.read.parquet(rd).schema).write.partitionBy(
        "epoch"
    ).parquet(out)
    shutil.rmtree(rd)
    os.rename(out, rd)


@pytest.mark.parametrize("head,tail", [(3, 0), (0, 3)], ids=["head", "tail"])
def test_truncated_range_dls_raises(spark, pages, tmp_path, head, tail):
    idx = str(tmp_path / "trunc")
    build_index(spark, pages, idx, seg_bits=SEG_BITS, n_term_buckets=4)
    _truncate_range_dls(spark, idx, head, tail)
    s = Searcher(spark, idx, cache=False)
    with pytest.raises(PythonException, match="outside the range-dl array"):
        s.relational_scores("data index search query").collect()
