"""Round-6 optimization pins: the relational scorer sites rewritten from
the ``_postings_rows ⨝ _dl_rows`` doc_id-shuffle shape to the
seg-cogroup kernel (guide §2.4, same family as ``relational_scores``)
must stay row-identical to the old join formulation — rebuilt here from
the surviving ``_postings_rows`` / ``_dl_rows`` building blocks.

Covered: terms_set_topk (score + per-doc matched count), span_or_topk
(pooled span freq), synonym_topk (group roll-up with blended weights),
range_filtered_topk (reuses relational_scores ⨝ allowed).
"""

import pytest

from pyspark.sql import functions as F

from kafka_es_spark.operators.wand import Searcher, idf
from kafka_es_spark.plans.build_index import build_index

SEG_BITS = 6


@pytest.fixture(scope="module")
def idx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_r06"))
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=8)
    return d


@pytest.fixture(scope="module")
def searcher(spark, idx):
    s = Searcher(spark, idx)
    yield s
    s.close()


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_terms_set_matches_join_formulation(spark, searcher, docfields):
    """terms_set via the cogroup kernel == the old postings⨝dl⨝weights
    join + (sum, count_distinct) hash aggregation, at 4dp."""
    s = searcher
    q = "data index search"
    qterms = sorted(set(q.split()))
    ts = s.term_stats.filter(F.col("term").isin(qterms)).collect()
    weights = {r["term"]: idf(s.n_docs, int(r["df"])) for r in ts}
    segs = s._query_segs(list(weights))
    w_df = spark.createDataFrame(
        sorted(weights.items()), "term string, w double"
    )
    old = (
        s._postings_rows(segs)
        .join(s._dl_rows(segs), "doc_id")
        .join(F.broadcast(w_df), "term")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(s._bm25_contrib_col()), 4).alias("score"),
            F.count_distinct("term").alias("m"),
        )
    )
    dm = spark.read.parquet(s.index_dir + "/docmap").select("doc_id", "url")
    exp = sorted(
        _rows(
            old.join(dm, "doc_id")
            .join(docfields.select("url", "required_matches"), "url")
            .filter(F.col("m") >= F.col("required_matches"))
            .select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(20)
        )
    )
    got = sorted(
        _rows(
            s.terms_set_topk(q, docfields, "required_matches", k=20)
            .select("doc_id", "score")
        )
    )
    assert exp and got == exp


def test_span_or_matches_join_formulation(spark, searcher):
    """span_or via the cogroup kernel == the old tf-pool join shape."""
    s = searcher
    toks = ["data", "query"]
    ts = s.term_stats.filter(F.col("term").isin(toks)).collect()
    w = sum(idf(s.n_docs, int(r["df"])) for r in ts)
    segs = s._query_segs(toks)
    old = (
        s._postings_rows(segs)
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("tf"))
        .join(s._dl_rows(segs), "doc_id")
        .withColumn("w", F.lit(float(w)))
        .select(
            "doc_id", F.round(s._bm25_contrib_col(), 4).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(25)
    )
    got = s.span_or_topk(toks, k=25)
    assert _rows(old) and _rows(got) == _rows(old)


def _check_synonym_against_join(spark, s, query, syns):
    """synonym_topk via the cogroup kernel == the old two-level
    (doc, grp) roll-up join shape (the broadcast group map emits one
    row per (member, group) pair)."""
    qterms = sorted(set(query.split()))
    groups = {t: sorted({t} | set(syns.get(t, ()))) for t in qterms}
    all_terms = sorted({m for ms in groups.values() for m in ms})
    tsd = {
        r["term"]: int(r["df"])
        for r in s.term_stats.filter(F.col("term").isin(all_terms)).collect()
    }
    weights = {}
    for g, ms in groups.items():
        dfs = [tsd[m] for m in ms if m in tsd]
        if dfs:
            weights[g] = idf(s.n_docs, max(dfs))
    member_rows = sorted(
        (m, g) for g, ms in groups.items() if g in weights
        for m in ms if m in tsd
    )
    segs = s._query_segs(sorted({m for m, _ in member_rows}))
    gmap = spark.createDataFrame(member_rows, "term string, grp string")
    w_df = spark.createDataFrame(
        sorted(weights.items()), "grp string, w double"
    )
    old = (
        s._postings_rows(segs)
        .join(F.broadcast(gmap), "term")
        .groupBy("doc_id", "grp")
        .agg(F.sum("tf").alias("tf"))
        .join(s._dl_rows(segs), "doc_id")
        .join(F.broadcast(w_df), "grp")
        .groupBy("doc_id")
        .agg(F.round(F.sum(s._bm25_contrib_col()), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(25)
    )
    got = s.synonym_topk(query, syns, k=25)
    assert _rows(old) and _rows(got) == _rows(old)


def test_synonym_matches_join_formulation(spark, searcher):
    """Disjoint groups, incl. a group member absent from the index."""
    _check_synonym_against_join(
        spark, searcher, "join query data",
        {"join": ["merge"], "query": ["scan", "zzznotindexed"]},
    )


def test_synonym_overlapping_groups_match_join_formulation(spark, searcher):
    """The term "merge" belongs to two groups (its own and "join"'s): its
    postings count in both, as the join formulation's group map has it."""
    _check_synonym_against_join(
        spark, searcher, "join merge", {"join": ["merge"]}
    )


def test_range_filtered_matches_hit_scores(spark, searcher, docfields):
    """range_filtered_topk == relational_scores restricted to the
    filter-allowed hit set (the old join chain computed exactly this)."""
    s = searcher
    q = "data index search"
    lo, hi = 20, 120
    hits = s.matching_doc_ids(q)
    dm = spark.read.parquet(s.index_dir + "/docmap").select("doc_id", "url")
    allowed = (
        hits.join(dm, "doc_id")
        .join(docfields.select("url", "n_tokens"), "url")
        .filter((F.col("n_tokens") >= lo) & (F.col("n_tokens") <= hi))
        .select("doc_id")
    )
    exp = sorted(
        _rows(
            s.relational_scores(q)
            .join(allowed, "doc_id")
            .select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(15)
        )
    )
    got = sorted(
        _rows(
            s.range_filtered_topk(q, docfields, "n_tokens", lo, hi, k=15)
        )
    )
    assert exp and got == exp


@pytest.fixture(scope="module")
def docfields(spark, pages):
    """(url, n_tokens, required_matches) field relation over the test
    corpus — deterministic per-doc values for the m-field and range
    filters."""
    from kafka_es_spark.functions.tokenize import tokens

    return pages.select(
        "url",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        (F.lit(1) + F.abs(F.hash("url")) % 3).cast("long").alias(
            "required_matches"
        ),
    )
