"""X7/X8 — distributed BM25 top-k with block-max WAND pruning.

Query plan (SURVEY.md §3.3):

1. tokenize the query with the document analyzer;
2. no driver-side statistics read: every resident segment row carries its
   term's global df (``df_term``, joined once from the summed
   ``term_stats`` partials when the Searcher opens), so each doc-range
   task derives idf for the terms it holds, with N/avgdl from
   ``stats.json``. The resident segment and range-dl relations are
   hash-partitioned by ``seg``, so the per-range group needs no Exchange —
   a top-k query is one Spark job;
3. read posting segments with ``term IN qterms AND bucket IN qbuckets`` —
   uncached, both predicates push into the parquet scan (bucket prunes
   row groups of other term-hash buckets; the files are sorted by term
   within buckets so min/max stats prune precisely); resident, the rows
   are term-sorted within each partition, so the cached batches' min/max
   stats prune the same way;
4. group segments by ``seg`` (doc range): every doc lives in exactly one
   range, so per-range top-k followed by a global TakeOrdered(k) is the
   EXACT global top-k — ranges score in parallel with no cross-talk;
5. inside each range: block-max WAND (Broder et al. WAND + Ding/Suel
   block-max skipping; see PAPERS.md) over per-term cursors with a bounded
   min-heap, float64, deterministic tie-break (score desc, doc_id asc).

Rank-identity discipline: per-term contributions are summed in sorted-term
order (fixed cursor order), so WAND, the per-range scorer, and the
exhaustive numpy oracle produce bit-identical float64 scores.
"""

from __future__ import annotations

import functools
import heapq
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_es_spark.operators.spimi import decode_range_dls, decode_segment
from kafka_es_spark.operators.bm25 import K1, B

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def idf(n_docs: int, df: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _contrib(tfs: np.ndarray, dls: np.ndarray, w: float, avgdl: float,
             k1: float = K1, b: float = B) -> np.ndarray:
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return w * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _gather_dls(ids: np.ndarray, dl_base: int, dl_arr: np.ndarray) -> np.ndarray:
    """dl of each posting id from its range's dl array (the norms gather,
    ``dl_arr[id - dl_base]``). Fancy indexing would silently gather WRONG
    dls for any id outside [dl_base, dl_base + len): negative offsets
    wrap — exactly the silent-corruption mode of a truncated or
    mixed-layout docmap/range_dls (ADVICE r3 #3). Validate hard."""
    if ids.size:
        lo, hi = int(ids.min()), int(ids.max())
        if lo < dl_base or hi >= dl_base + dl_arr.size:
            raise ValueError(
                f"posting doc ids [{lo}, {hi}] fall outside the range-dl "
                f"array [{dl_base}, {dl_base + dl_arr.size}): docmap/range_dls "
                "rows are missing for this doc range (corrupt or mixed-layout "
                "index)"
            )
    return dl_arr[ids - dl_base]


def _range_dls(key, dpdf: pd.DataFrame) -> tuple[int, np.ndarray]:
    """Decode one seg's range-dl rows → (dl_base, dl_arr). Postings exist
    for the range (callers check), so no dl rows is never a legal state
    (dls derive from the same docmap): returning empty would silently
    drop the range's docs (ADVICE r3 #3)."""
    if len(dpdf) == 0:
        raise ValueError(
            f"seg {key} has postings but no range-dl rows — "
            "corrupt or mixed-layout index"
        )
    return decode_range_dls(dpdf.to_dict("records"))


def _rows_by_term(pdf: pd.DataFrame) -> dict[str, list[dict]]:
    by_term: dict[str, list[dict]] = {}
    for r in pdf.to_dict("records"):
        by_term.setdefault(r["term"], []).append(r)
    return by_term


def _range_weights(by_term: dict[str, list[dict]], terms, n_docs: int,
                   boosts: dict[str, float] | None = None) -> dict[str, float]:
    """idf × boost of each of ``terms`` held by this doc range, from the
    global df its segment rows carry (``df_term``): every row of a term
    carries the same df, so every range derives the same weight."""
    return {
        t: idf(n_docs, int(by_term[t][0]["df_term"]))
        * float((boosts or {}).get(t, 1.0))
        for t in terms
        if t in by_term
    }


def _empty_scores() -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": pd.Series(dtype=np.int64),
         "score": pd.Series(dtype=np.float64)}
    )


class _Cursor:
    """One query term's postings within a doc range (possibly several
    segment rows from different shards/epochs, concatenated in doc order).

    Format 2: per-posting dl is gathered from the range dl array
    (``dl_arr[doc_id - dl_base]``, the norms analogue) and block-max
    metadata (last/maxtf/mindl per 128-posting block) is recomputed here
    from the decoded arrays — one reduceat per cursor, cheaper than
    shuffling and storing it per segment."""

    __slots__ = ("ids", "contrib", "blk_last", "blk_ub", "pos", "n")

    def __init__(self, rows: list[dict], w: float, avgdl: float, codec: str,
                 dl_base: int, dl_arr: np.ndarray,
                 k1: float = K1, b: float = B):
        from kafka_es_spark.functions.codecs import block_meta

        rows = sorted(rows, key=lambda r: r["first_docid"])
        ids_l, tf_l = [], []
        for r in rows:
            i, tfs = decode_segment(r, codec)
            ids_l.append(i)
            tf_l.append(tfs)
        self.ids = np.concatenate(ids_l)
        tfs = np.concatenate(tf_l)
        dls = _gather_dls(self.ids, dl_base, dl_arr)
        self.contrib = _contrib(tfs, dls, w, avgdl, k1, b)
        last, maxtf, mindl = block_meta(self.ids, tfs, dls)
        self.blk_last = last
        self.blk_ub = _contrib(maxtf, mindl, w, avgdl, k1, b)
        self.pos = 0
        self.n = self.ids.size

    @property
    def exhausted(self) -> bool:
        return self.pos >= self.n

    @property
    def cur_doc(self) -> int:
        return int(self.ids[self.pos])

    def term_ub(self) -> float:
        return float(self.blk_ub.max()) if self.blk_ub.size else 0.0

    def block_ub_at(self, doc: int) -> float:
        bi = int(np.searchsorted(self.blk_last, doc, side="left"))
        return float(self.blk_ub[min(bi, self.blk_ub.size - 1)])

    def block_last_at(self, doc: int) -> int:
        bi = int(np.searchsorted(self.blk_last, doc, side="left"))
        return int(self.blk_last[min(bi, self.blk_last.size - 1)])

    def advance_to(self, doc: int) -> None:
        """Gallop to the first posting with id >= doc."""
        self.pos += int(np.searchsorted(self.ids[self.pos:], doc, side="left"))


def wand_range_topk(
    cursors: list[_Cursor], k: int, excluded: frozenset[int] | None = None
) -> list[tuple[int, float]]:
    """Block-max WAND over one doc range. Returns up to k (doc_id, score),
    best-first by (score desc, doc_id asc). Cursors MUST be in sorted-term
    order — contributions are accumulated in cursor-index order so the sum
    is bit-identical to the exhaustive oracle. ``excluded`` docs (delete
    tombstones) are skipped inside the scorer — the live-docs-bitset
    analogue; index-level stats are unchanged, like ES before merge."""
    heap: list[tuple[float, int]] = []  # (score, -doc_id): heap[0] = worst kept
    ubs = [c.term_ub() for c in cursors]

    while True:
        order = [i for i in range(len(cursors)) if not cursors[i].exhausted]
        if not order:
            break
        order.sort(key=lambda i: cursors[i].cur_doc)
        theta = heap[0][0] if len(heap) >= k else -np.inf
        acc = 0.0
        pivot_j = -1
        for j, ci in enumerate(order):
            acc += ubs[ci]
            if acc >= theta:
                pivot_j = j
                break
        if pivot_j < 0:
            break  # no remaining doc can reach the threshold
        pivot_doc = cursors[order[pivot_j]].cur_doc
        # extend the pivot across cursors tied at pivot_doc so their block
        # upper bounds count toward the refinement (Ding & Suel BMW, Alg. 3)
        while (
            pivot_j + 1 < len(order)
            and cursors[order[pivot_j + 1]].cur_doc == pivot_doc
        ):
            pivot_j += 1
        if cursors[order[0]].cur_doc == pivot_doc:
            # block-max refinement: tighter per-block bound before full eval
            bub = sum(
                cursors[ci].block_ub_at(pivot_doc)
                for ci in order[: pivot_j + 1]
            )
            if bub < theta:
                # skip to just past the nearest block boundary, clamped at
                # the next (non-pivot) cursor's current doc: a doc in
                # (pivot, boundary] may also appear in lists beyond the
                # pivot, whose contribution bub did not count — d' rule.
                nxt = min(
                    cursors[ci].block_last_at(pivot_doc)
                    for ci in order[: pivot_j + 1]
                ) + 1
                if pivot_j + 1 < len(order):
                    nxt = min(nxt, cursors[order[pivot_j + 1]].cur_doc)
                nxt = max(nxt, pivot_doc + 1)  # guarantee progress
                for ci in order[: pivot_j + 1]:
                    cursors[ci].advance_to(nxt)
                continue
            if excluded is not None and pivot_doc in excluded:
                # tombstoned: step every cursor past it without scoring
                for ci in range(len(cursors)):
                    c = cursors[ci]
                    if not c.exhausted and c.cur_doc == pivot_doc:
                        c.pos += 1
                continue
            # full evaluation — fixed cursor order for float determinism
            score = 0.0
            for ci in range(len(cursors)):
                c = cursors[ci]
                if not c.exhausted and c.cur_doc == pivot_doc:
                    score += float(c.contrib[c.pos])
                    c.pos += 1
            if len(heap) < k:
                heapq.heappush(heap, (score, -pivot_doc))
            elif (score, -pivot_doc) > heap[0]:
                heapq.heapreplace(heap, (score, -pivot_doc))
        else:
            for ci in order[:pivot_j]:
                cursors[ci].advance_to(pivot_doc)

    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-d, s) for s, d in out]


def blockmax_topk_vectorized(
    cursors: list[_Cursor],
    k: int,
    excluded: frozenset[int] | None = None,
    wbits: int = 11,
) -> list[tuple[int, float]]:
    """Exact per-range top-k with window-level block-max pruning, fully
    numpy — the vectorized formulation of BMW's pruning principle: a
    doc-id window is evaluated only if the sum of per-cursor score upper
    bounds inside it can reach θ; everything else is skipped wholesale.

    Two passes: (1) evaluate the highest-upper-bound windows (geometric
    growth) until k docs are scored → θ = k-th best; (2) evaluate every
    remaining window whose upper bound ≥ θ (ties included, same as WAND's
    pivot condition). Docs in never-evaluated windows provably score < θ.
    Scores are bit-identical to wand_range_topk and the exhaustive oracle:
    per-doc contributions accumulate in cursor-index order (np.add.at adds
    in element order over the cursor-ordered concatenation). Upper bounds
    here are per-window maxima of the *exact* decoded contributions —
    tighter than the stored block metadata, which remains what the classic
    cursor algorithm (wand_range_topk) uses.

    Python-loop cost is O(#cursors + log(#windows)) per range instead of
    O(#postings) — the constant-factor fix for sub-second serving at large
    ranges (VERDICT r1 §perf)."""
    if not cursors or k <= 0:
        return []
    W = np.int64(wbits)
    base = min(int(c.ids[0]) >> wbits for c in cursors)
    top = max(int(c.ids[-1]) >> wbits for c in cursors)
    nw = top - base + 1
    ub = np.zeros(nw, dtype=np.float64)
    wins_per_cursor = []
    for c in cursors:
        w_of = (c.ids >> W) - base
        wins_per_cursor.append(w_of)
        bnd = np.flatnonzero(np.diff(w_of)) + 1
        starts = np.concatenate([[0], bnd])
        ub[w_of[starts]] += np.maximum.reduceat(c.contrib, starts)

    order = np.argsort(-ub, kind="stable")

    def eval_mask(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        ids_parts, con_parts = [], []
        for c, w_of in zip(cursors, wins_per_cursor):
            sel = mask[w_of]
            ids_parts.append(c.ids[sel])
            con_parts.append(c.contrib[sel])
        aid = np.concatenate(ids_parts)
        if aid.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        acon = np.concatenate(con_parts)
        uids, inv = np.unique(aid, return_inverse=True)
        sc = np.zeros(uids.size, dtype=np.float64)
        np.add.at(sc, inv, acon)
        if excluded is not None and excluded:
            dead = np.fromiter(excluded, dtype=np.int64, count=len(excluded))
            keep = ~np.isin(uids, dead)
            uids, sc = uids[keep], sc[keep]
        return uids, sc

    n_live = int((ub > 0).sum())
    j = min(1, n_live)
    mask1 = np.zeros(nw, dtype=bool)
    uids, sc = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    while j > 0:
        mask1[:] = False
        mask1[order[:j]] = True
        uids, sc = eval_mask(mask1)
        if uids.size >= k or j >= n_live:
            break
        j = min(n_live, 2 * j)
    if uids.size > k:
        theta = float(-np.partition(-sc, k - 1)[k - 1])
    elif uids.size == k:
        theta = float(sc.min())
    else:
        theta = -np.inf
    mask2 = (ub >= theta) & (ub > 0) & ~mask1
    if mask2.any():
        u2, s2 = eval_mask(mask2)
        uids = np.concatenate([uids, u2])
        sc = np.concatenate([sc, s2])
    if uids.size == 0:
        return []
    sel = np.lexsort((uids, -sc))[:k]
    return [(int(uids[i]), float(sc[i])) for i in sel]


def conjunctive_range_topk(
    cursors: list[_Cursor], k: int, excluded: frozenset[int] | None = None
) -> list[tuple[int, float]]:
    """Conjunctive (AND / ES bool.must) top-k over one doc range: every
    query term must match. The optimal plan is posting-list INTERSECTION
    (cost ~ the shortest list — Lucene's ConjunctionDISI shape), then exact
    scoring of the survivors; WAND-style pivoting buys nothing when all
    terms are required. Cursors MUST be in sorted-term order: contributions
    accumulate in cursor-index order, so scores are bit-identical to the
    OR-mode scorers on the same docs."""
    if not cursors or k <= 0:
        return []
    ids = cursors[0].ids
    for c in cursors[1:]:
        if ids.size == 0:
            return []
        ids = np.intersect1d(ids, c.ids, assume_unique=True)
    if ids.size == 0:
        return []
    if excluded is not None and excluded:
        dead = np.fromiter(excluded, dtype=np.int64, count=len(excluded))
        ids = ids[~np.isin(ids, dead)]
        if ids.size == 0:
            return []
    score = np.zeros(ids.size, dtype=np.float64)
    for c in cursors:
        pos = np.searchsorted(c.ids, ids)
        score += c.contrib[pos]
    sel = np.lexsort((ids, -score))[:k]
    return [(int(ids[i]), float(score[i])) for i in sel]


def msm_range_topk(
    cursors: list[_Cursor],
    k: int,
    min_match: int,
    excluded: frozenset[int] | None = None,
) -> list[tuple[int, float]]:
    """minimum_should_match top-k over one doc range: a doc qualifies iff it
    matches at least ``min_match`` of the query terms (ES bool
    minimum_should_match; min_match=1 ≡ OR, =len(cursors) ≡ AND). One
    vectorized pass over the range's postings: unique doc ids with
    per-term membership counts, qualifying docs scored by np.add.at in
    cursor-index order (bit-identical accumulation to the other scorers).
    No block-max pruning — an upper bound over "any ≥m subset" is much
    weaker than WAND's, and a range is ≤ 2^seg_bits postings per term by
    construction, so the exhaustive pass stays bounded."""
    if not cursors or k <= 0 or min_match > len(cursors):
        return []
    aid = np.concatenate([c.ids for c in cursors])
    acon = np.concatenate([c.contrib for c in cursors])
    uids, inv, cnt = np.unique(aid, return_inverse=True, return_counts=True)
    sc = np.zeros(uids.size, dtype=np.float64)
    np.add.at(sc, inv, acon)
    keep = cnt >= min_match
    if excluded is not None and excluded:
        dead = np.fromiter(excluded, dtype=np.int64, count=len(excluded))
        keep &= ~np.isin(uids, dead)
    uids, sc = uids[keep], sc[keep]
    if uids.size == 0:
        return []
    sel = np.lexsort((uids, -sc))[:k]
    return [(int(uids[i]), float(sc[i])) for i in sel]


def round_half_up(x: np.ndarray, digits: int) -> np.ndarray:
    """SQL ROUND (HALF_UP for positive values) — the serving-score
    rounding rule, applied inside the pagination scorer so cursor
    comparisons see exactly what the client saw."""
    scale = 10.0 ** digits
    return np.floor(x * scale + 0.5) / scale


def cursor_range_topk(
    cursors: list[_Cursor],
    k: int,
    need: int,
    round_to: int,
    after: tuple[float, int] | None,
    excluded: frozenset[int] | None = None,
) -> list[tuple[int, float]]:
    """search_after scorer for one doc range: exhaustive vectorized
    scoring (block-max pruning is unsound here — a θ seeded from the
    unfiltered top-k would prune docs that qualify *after* the cursor),
    ranked on the ROUNDED serving score, filtered to rows strictly after
    ``after=(score, doc_id)`` in (score desc, doc_id asc) order. A range
    is ≤ 2^seg_bits postings per term by construction, so the exhaustive
    pass stays bounded — deep pagination pays the collector cost in ES
    too. ``need`` = minimum matching terms (1=OR, #terms=AND, m=msm)."""
    if not cursors or k <= 0:
        return []
    aid = np.concatenate([c.ids for c in cursors])
    acon = np.concatenate([c.contrib for c in cursors])
    uids, inv, cnt = np.unique(aid, return_inverse=True, return_counts=True)
    sc = np.zeros(uids.size, dtype=np.float64)
    np.add.at(sc, inv, acon)
    keep = cnt >= need
    if excluded is not None and excluded:
        dead = np.fromiter(excluded, dtype=np.int64, count=len(excluded))
        keep &= ~np.isin(uids, dead)
    uids, sc = uids[keep], sc[keep]
    if uids.size == 0:
        return []
    rs = round_half_up(sc, round_to)
    if after is not None:
        s_a, d_a = float(after[0]), int(after[1])
        m = (rs < s_a) | ((rs == s_a) & (uids > d_a))
        uids, rs = uids[m], rs[m]
        if uids.size == 0:
            return []
    sel = np.lexsort((uids, -rs))[:k]
    return [(int(uids[i]), float(rs[i])) for i in sel]


class Searcher:
    """Query engine over an index dataset. Loads stats once and keeps the
    (small) segment-row, range-dl and term-stats relations persisted so
    repeated queries pay only the scoring job — the amortization a serving
    engine does with its open index readers. One-shot use: ``wand_topk``.

    Serving layout of the resident relations:

    * every segment row carries its term's global df (``df_term``, the
      summed ``term_stats`` partials, joined once), so the per-range
      kernels derive idf from their own rows — no driver-side term_stats
      collect per query; a term absent from the index simply has no rows
      (AND / min_should_match early-outs are the per-range skips);
    * segment rows and range-dl rows are hash-partitioned by ``seg`` into
      the session's ``spark.sql.shuffle.partitions``, so the per-range
      cogroup/groupBy finds its distribution already satisfied and plans
      no Exchange (a ``REPARTITION_BY_NUM`` is never coalesced by AQE).

    ``cache=False`` builds the same relations without persisting them:
    the df join and the repartition then run inside each query."""

    def __init__(self, spark: SparkSession, index_dir: str, cache: bool = True):
        from kafka_es_spark.operators.compaction import recover_swap_dirs
        from kafka_es_spark.operators.deletes import read_tombstone_ids
        from kafka_es_spark.plans.build_index import load_stats

        self.spark = spark
        self.index_dir = index_dir
        from kafka_es_spark.plans.build_index import BUCKET_SCHEME

        import os as _os

        if not _os.path.exists(_os.path.join(index_dir, "stats.json")):
            raise FileNotFoundError(
                f"no index dataset at {index_dir!r} (stats.json missing) — "
                "build one with plans.build_index / jobs/build_index.py"
            )
        # a crash inside a compaction swap window leaves a relation under
        # X.old with no X — repair before reading anything
        recover_swap_dirs(index_dir)
        # pending delete tombstones persisted in the index (_deletes/):
        # applied to every query from this Searcher — the format enforces
        # the exclusion, callers need not thread the set through
        self.persistent_excluded = read_tombstone_ids(spark, index_dir)
        st = load_stats(index_dir)
        if st.get("format") != 2:
            raise ValueError(
                f"index at {index_dir} is format {st.get('format', 1)}; this "
                "engine reads format 2 (postings without per-posting dl + "
                "range_dls norms) — rebuild with build_index"
            )
        self.n_docs, self.avgdl, self.codec = st["n_docs"], st["avgdl"], st["codec"]
        self.seg_bits = int(st.get("seg_bits", 17))
        # prune only when the index explicitly records the scheme this query
        # side computes (md5 hash32) — a legacy/mixed-scheme index falls back
        # to unpruned scans instead of silently skipping segments (ADVICE r2)
        self.n_term_buckets = (
            st.get("n_term_buckets")
            if st.get("bucket_scheme") == BUCKET_SCHEME
            else None
        )
        # term_stats holds PARTIALS (unit=base + one per streaming epoch;
        # doc sets are disjoint so df/cf sum exactly) — aggregate per term
        self.term_stats = (
            spark.read.parquet(os.path.join(index_dir, "term_stats"))
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
        self._cached = cache
        if cache:
            self.term_stats = self.term_stats.persist()
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.segs = (
            spark.read.parquet(os.path.join(index_dir, "postings"))
            .join(
                self.term_stats.select("term", F.col("df").alias("df_term")),
                "term",
            )
            .repartition(n_part, "seg")
            # term-sorted within each partition, so the resident scan's
            # per-batch min/max stats still prune `term IN (...)` as the
            # term-sorted postings files did before the repartition
            .sortWithinPartitions("term")
        )
        # the norms analogue: tiny (1-2 bytes/doc), resident while serving
        self.range_dls = spark.read.parquet(
            os.path.join(index_dir, "range_dls")
        ).repartition(n_part, "seg")
        if cache:
            self.segs = self.segs.persist()
            self.range_dls = self.range_dls.persist()

    def _query_segs(self, terms) -> DataFrame:
        """Segment rows for the query terms, with term-bucket pruning pushed
        into the scan: the bucket hash is the portable md5 hash32, computed
        driver-side, so `bucket IN (...)` skips whole files of non-query
        buckets (plus row-group min/max pruning on `term` within files)."""
        segs = self.segs.filter(F.col("term").isin(list(terms)))
        if self.n_term_buckets:
            from kafka_es_spark.operators.dedup import hash32_py

            bs = sorted({hash32_py(t) % self.n_term_buckets for t in terms})
            segs = segs.filter(F.col("bucket").isin(bs))
        return segs

    @functools.cached_property
    def _docmap(self) -> DataFrame:
        """The docmap relation, read (file listing + schema) once per
        Searcher on first use — a point-in-time reader like the resident
        relations — so the hit-set joins run no schema-read job per query."""
        return self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))

    def close(self) -> None:
        if self._cached:
            self.segs.unpersist()
            self.term_stats.unpersist()
            self.range_dls.unpersist()

    def _query_dls(self, segs: DataFrame) -> DataFrame:
        """Range-dl rows for the doc ranges the query touches.

        Small index (≤1024 ranges total — from n_docs/2^seg_bits, pure
        driver arithmetic, no job): return the whole (persisted) relation;
        the cogroup only materializes groups and a per-query seg-list
        collect would cost more than it prunes. Large index: one tiny job
        over the (pruned, persisted) segment rows yields the query's seg
        list and the IN filter prunes the range_dls scan the same way
        buckets prune postings. Head-term queries touch every range —
        above 10k segs the filter is skipped (full scan is the right plan
        there anyway, and a 10⁵-literal IN list would bloat the plan)."""
        n_segs_total = (self.n_docs + (1 << self.seg_bits) - 1) >> self.seg_bits
        if n_segs_total <= 1024:
            return self.range_dls
        qsegs = [r["seg"] for r in segs.select("seg").distinct().collect()]
        dls = self.range_dls
        if 0 < len(qsegs) <= 10_000:
            dls = dls.filter(F.col("seg").isin(qsegs))
        return dls

    def topk(self, query: str, k: int = 10, round_to: int | None = 4,
             with_url: bool = False, fetch_k: int | None = None,
             exclude_doc_ids: set[int] | None = None,
             exclude_urls: DataFrame | None = None,
             algo: str = "vector", mode: str = "or",
             min_should_match: int | None = None,
             must_not: str | None = None,
             boosts: dict[str, float] | None = None) -> DataFrame:
        """fetch_k > k widens the per-range heaps and the final limit so a
        caller can re-rank with its own tie-break (e.g. corpus doc id at a
        rounded-score boundary) without losing tied candidates.

        ``mode="and"`` switches to conjunctive semantics (ES bool.must,
        SURVEY §2.8 X8's other half): a doc must contain EVERY query term.
        A term absent from the whole index ⇒ empty result; per range the
        scorer intersects posting lists instead of pivoting. Scores of
        surviving docs are identical to OR-mode scores (same contributions,
        same accumulation order).

        ``min_should_match=m`` (ES bool minimum_should_match) requires a
        doc to match at least m of the query's distinct terms — m=1 is
        plain OR, m=#terms is AND; intermediate m uses the vectorized
        counting scorer (msm_range_topk). Mutually exclusive with
        mode="and" (which is the m=#terms special case).

        ``must_not`` (ES bool.must_not): a doc containing ANY of the
        negated string's terms is excluded from the result, regardless of
        how well it matches the positive terms; negated terms contribute
        nothing to the score (ES runs must_not clauses in filter context).
        Negated posting lists are read through the same pruned scan as the
        positive ones and decoded per doc range, so the per-task exclusion
        set is bounded by the range size (2^seg_bits docs) — never a global
        collect. A pure-negation query (no positive terms) is rejected: ES
        expresses that as match_all + must_not, and this engine has no
        match_all scorer by design (it would be a full corpus scan).

        ``boosts`` (ES ``term^boost``): per-term query-time weight
        multipliers applied to the idf where each range derives its
        weights — every scorer and its block-max bounds inherit the scaled
        weight.

        exclude_doc_ids / exclude_urls (a DataFrame with a ``url`` column)
        are X9 delete tombstones, enforced INSIDE the scorer (skipped at
        full-evaluation time, so per-range top-k stays exact); index stats
        are unchanged — ES semantics between delete and segment merge. The
        tombstone set is collected and shipped in the UDF closure: it is
        small by contract (pending deletes since the last rebuild)."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        k = max(k, fetch_k or 0)
        spark = self.spark
        excluded = (
            frozenset(int(d) for d in (exclude_doc_ids or ()))
            | self.persistent_excluded
        )
        if exclude_urls is not None:
            import os as _os

            dm = spark.read.parquet(_os.path.join(self.index_dir, "docmap"))
            hits = dm.join(
                F.broadcast(exclude_urls.select("url").distinct()), "url"
            ).select("doc_id").collect()
            excluded = excluded | frozenset(int(r["doc_id"]) for r in hits)
        excluded = excluded or None
        qterms = sorted(set(tokenize_py(query)))
        neg_terms = sorted(set(tokenize_py(must_not))) if must_not else []
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            if neg_terms and not qterms:
                raise ValueError(
                    "pure-negation query: must_not requires at least one "
                    "positive term (ES match_all + must_not is a full "
                    "corpus scan — not a top-k posting-list query)"
                )
            return spark.createDataFrame([], TOPK_SCHEMA)

        msm = min_should_match
        if msm is not None and (msm < 1 or mode == "and"):
            raise ValueError(
                "min_should_match must be >= 1 and combines with mode='or' "
                "(mode='and' IS min_should_match=#terms)"
            )
        n_docs, avgdl, codec = self.n_docs, self.avgdl, self.codec

        segs = self._query_segs(sorted(set(qterms) | set(neg_terms)))
        dls_rel = self._query_dls(segs)

        def score_range(key: tuple, pdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return _empty_scores()
            dl_base, dl_arr = _range_dls(key, dpdf)
            by_term = _rows_by_term(pdf)
            # query-time boosts (ES term ^boost) scale the term weight; the
            # scorers are boost-agnostic
            weights = _range_weights(by_term, qterms, n_docs, boosts)
            n_pos = len(weights)
            if (mode == "and" and n_pos < len(qterms)) or (
                msm is not None and n_pos < msm
            ) or n_pos == 0:
                # this doc range can't host a qualifying doc (a required
                # term absent here — or from the whole index — or fewer
                # present terms than the match floor) — skip without
                # decoding anything
                return _empty_scores()
            range_excluded = excluded
            if neg_terms:
                neg_ids = [
                    decode_segment(r, codec)[0]
                    for t in neg_terms
                    for r in by_term.get(t, [])
                ]
                if neg_ids:
                    range_excluded = (excluded or frozenset()) | frozenset(
                        int(d) for d in np.concatenate(neg_ids)
                    )
            cursors = [
                _Cursor(by_term[t], w, avgdl, codec, dl_base, dl_arr)
                for t, w in weights.items()
            ]
            if mode == "and":
                top = conjunctive_range_topk(cursors, k, excluded=range_excluded)
            elif msm is not None and msm > 1:
                top = msm_range_topk(cursors, k, msm, excluded=range_excluded)
            elif algo == "bmw":
                top = wand_range_topk(cursors, k, excluded=range_excluded)
            else:
                top = blockmax_topk_vectorized(cursors, k, excluded=range_excluded)
            return pd.DataFrame(top, columns=["doc_id", "score"])

        ranged = (
            segs.groupBy("seg")
            .cogroup(dls_rel.groupBy("seg"))
            .applyInPandas(score_range, TOPK_SCHEMA)
        )
        out = ranged.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        if with_url:
            dm = spark.read.parquet(os.path.join(self.index_dir, "docmap")).select(
                "doc_id", "url"
            )
            out = out.join(dm, "doc_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        return out


    def prefix_topk(
        self,
        prefix: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES prefix-query analogue: expand the prefix against the term
        dictionary (term_stats — the filter pushes into the parquet scan,
        which is term-sorted within bucket files) to the first
        ``max_expansions`` terms in ALPHABETIC order (the
        match_phrase_prefix expansion rule — deterministic, unlike
        df-ranked rewrites), then score the expansion as a plain OR
        disjunction through the standard block-max path. Scores are
        regular BM25 over the expanded terms (Lucene's scoring-boolean
        rewrite), so the result is oracle-checkable."""
        rows = (
            self.term_stats.filter(F.col("term").startswith(prefix))
            .select("term")
            .orderBy("term")
            .limit(int(max_expansions))
            .collect()
        )
        terms = [r["term"] for r in rows]
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def fuzzy_topk(
        self,
        term: str,
        k: int = 10,
        max_edits: int = 1,
        prefix_length: int = 1,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES fuzzy-query analogue: expand ``term`` against the term
        dictionary to every term within Levenshtein distance
        ``max_edits``, then score the expansion as a BM25 OR disjunction
        (Lucene's scoring-boolean rewrite — same rewrite prefix_topk
        uses, so results stay oracle-checkable; ES's default
        blended-idf rewrite is a scoring variant of the same expansion).

        Expansion is deterministic: candidates ordered by (edit distance
        asc, term asc), capped at ``max_expansions`` (ES default 50). The
        dictionary scan stays JVM-side — ``F.levenshtein`` over
        term_stats, pre-pruned by a ``startswith(prefix)`` pushdown when
        ``prefix_length > 0`` (the ES prefix_length knob: at web scale an
        unanchored scan touches the whole vocabulary, so a nonzero prefix
        is the scale path) and a cheap ``abs(len(t) - len(term))``
        length filter that eliminates most candidates before the O(len²)
        distance."""
        cand = self.term_stats.select("term").filter(
            F.abs(F.length("term") - len(term)) <= int(max_edits)
        )
        if prefix_length > 0:
            cand = cand.filter(F.col("term").startswith(term[:prefix_length]))
        rows = (
            cand.withColumn("dist", F.levenshtein(F.col("term"), F.lit(term)))
            .filter(F.col("dist") <= int(max_edits))
            .orderBy("dist", "term")
            .limit(int(max_expansions))
            .collect()
        )
        terms = [r["term"] for r in rows]
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def wildcard_topk(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES wildcard-query analogue: ``*`` matches any run, ``?`` one
        character. The pattern maps 1:1 onto SQL LIKE (``%`` / ``_`` —
        literal %/_ in terms are escaped), so the dictionary scan stays a
        JVM-side LIKE over term_stats; expansion is deterministic
        (alphabetic, capped at max_expansions) and scored as a BM25 OR —
        the same scoring-boolean rewrite prefix/fuzzy use. A leading
        ``*`` forces a full dictionary scan (ES warns identically); an
        anchored prefix before the first wildcard is sargable."""
        like = (
            pattern.replace("\\", "\\\\").replace("%", "\\%")
            .replace("_", "\\_").replace("*", "%").replace("?", "_")
        )
        rows = (
            self.term_stats.filter(F.col("term").like(like))
            .select("term")
            .orderBy("term")
            .limit(int(max_expansions))
            .collect()
        )
        terms = [r["term"] for r in rows]
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def search_after_topk(
        self,
        query: str,
        k: int = 10,
        after: tuple[float, int] | None = None,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        round_to: int = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES search_after deep pagination: return the k rows strictly
        AFTER ``after=(score, doc_id)`` in (score desc, doc_id asc)
        order; ``after=None`` is page 1. Ranking keys on the ROUNDED
        serving score — the cursor a client passes back is what it was
        shown, so the sort key must round identically (round_to is
        therefore required here, unlike topk). Per-range scoring is
        exhaustive (see cursor_range_topk: pruning against a cursor-
        filtered θ is unsound); stateless between pages, like
        search_after and unlike scroll contexts."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms = sorted(set(tokenize_py(query)))
        neg_terms = sorted(set(tokenize_py(must_not))) if must_not else []
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            return spark.createDataFrame([], TOPK_SCHEMA)
        msm = min_should_match
        if msm is not None and (msm < 1 or mode == "and"):
            raise ValueError(
                "min_should_match must be >= 1 and combines with mode='or' "
                "(mode='and' IS min_should_match=#terms)"
            )
        need = msm if msm is not None else (len(qterms) if mode == "and" else 1)
        n_docs, avgdl, codec = self.n_docs, self.avgdl, self.codec
        excluded = self.persistent_excluded or None
        segs = self._query_segs(sorted(set(qterms) | set(neg_terms)))
        dls_rel = self._query_dls(segs)

        def score_range(key: tuple, pdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return _empty_scores()
            dl_base, dl_arr = _range_dls(key, dpdf)
            by_term = _rows_by_term(pdf)
            weights = _range_weights(by_term, qterms, n_docs)
            if len(weights) < need:
                return _empty_scores()
            range_excluded = excluded
            if neg_terms:
                neg_ids = [
                    decode_segment(r, codec)[0]
                    for t in neg_terms
                    for r in by_term.get(t, [])
                ]
                if neg_ids:
                    range_excluded = (excluded or frozenset()) | frozenset(
                        int(d) for d in np.concatenate(neg_ids)
                    )
            cursors = [
                _Cursor(by_term[t], w, avgdl, codec, dl_base, dl_arr)
                for t, w in weights.items()
            ]
            top = cursor_range_topk(
                cursors, k, need, round_to, after, excluded=range_excluded
            )
            return pd.DataFrame(top, columns=["doc_id", "score"])

        ranged = (
            segs.groupBy("seg")
            .cogroup(dls_rel.groupBy("seg"))
            .applyInPandas(score_range, TOPK_SCHEMA)
        )
        out = ranged.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
        if with_url:
            dm = spark.read.parquet(os.path.join(self.index_dir, "docmap")).select(
                "doc_id", "url"
            )
            out = out.join(dm, "doc_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        return out

    def matching_doc_ids(
        self,
        query: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """All doc ids matching the query (ES filter context / the doc set
        behind ``_count`` and aggregations): OR = union of the query
        terms' posting lists, AND = intersection, min_should_match = docs
        on >= m lists; minus must_not docs and pending tombstones.

        No scoring, so no range_dls read and no _Cursor decode of tfs —
        one pruned postings scan, per-range vectorized set algebra in
        applyInPandas, output one row per matching doc. Distributed by
        doc range exactly like topk (a doc lives in one range, so ranges
        are disjoint and need no dedup)."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms = sorted(set(tokenize_py(query)))
        neg_terms = sorted(set(tokenize_py(must_not))) if must_not else []
        out_schema = T.StructType([T.StructField("doc_id", T.LongType(), False)])
        if not qterms:
            return spark.createDataFrame([], out_schema)
        msm = min_should_match
        if msm is not None and (msm < 1 or mode == "and"):
            raise ValueError(
                "min_should_match must be >= 1 and combines with mode='or' "
                "(mode='and' IS min_should_match=#terms)"
            )
        codec = self.codec
        excluded = self.persistent_excluded or None
        need = msm if msm is not None else (len(qterms) if mode == "and" else 1)

        segs = self._query_segs(sorted(set(qterms) | set(neg_terms)))

        def collect_range(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            by_term = _rows_by_term(pdf)
            pos = [t for t in qterms if t in by_term]
            # a term absent from the index has no rows anywhere, so AND with
            # it (or a match floor above the present terms) skips every range
            if len(pos) < need:
                return pd.DataFrame({"doc_id": pd.Series(dtype=np.int64)})
            # one id array per positive term (a term's segments within the
            # range are disjoint doc runs, so plain concat has no dups)
            per_term = [
                np.concatenate(
                    [decode_segment(r, codec)[0] for r in by_term[t]]
                )
                for t in pos
            ]
            aid = np.concatenate(per_term)
            uids, cnt = np.unique(aid, return_counts=True)
            uids = uids[cnt >= need]
            for t in neg_terms:
                rows_t = by_term.get(t)
                if rows_t is not None and uids.size:
                    neg = np.concatenate(
                        [decode_segment(r, codec)[0] for r in rows_t]
                    )
                    uids = uids[~np.isin(uids, neg)]
            if excluded is not None and uids.size:
                dead = np.fromiter(excluded, dtype=np.int64, count=len(excluded))
                uids = uids[~np.isin(uids, dead)]
            return pd.DataFrame({"doc_id": uids})

        return segs.groupBy("seg").applyInPandas(collect_range, out_schema)

    def match_count(self, query: str, mode: str = "or",
                    min_should_match: int | None = None,
                    must_not: str | None = None) -> DataFrame:
        """ES ``_count`` analogue: one row ``(n_hits)`` — the number of
        live docs matching the query under the given bool semantics."""
        return self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        ).agg(F.count("*").alias("n_hits"))

    def facet_terms(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        size: int = 10,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES terms-aggregation analogue (``aggs: {terms: {field: ...}}``):
        bucket the docs matching ``query`` by ``field`` and return the top
        ``size`` buckets as (value, doc_count), ordered doc_count desc
        then value asc (deterministic tie-break; ES orders _count desc).

        Aggregations run over ALL matching docs — the hit set comes from
        ``matching_doc_ids`` (posting-list algebra, no scoring), joined to
        the docmap for urls and to ``field_values`` (a (url, field)
        relation, e.g. the source table) for the bucket key. Both joins
        key on high-cardinality columns and reduce to a tiny
        (#distinct-values)-row aggregate — the classic shuffle-then-
        partial-agg plan; Catalyst broadcasts whichever side is small."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        return (
            j.groupBy(field)
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col(field).asc())
            .limit(int(size))
        )

    def terms_metric_agg(
        self,
        query: str,
        field_values: DataFrame,
        bucket_field: str,
        metric_field: str,
        size: int = 10,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES terms aggregation with metric SUB-aggregations — the
        canonical nested-agg request (``terms`` buckets each carrying
        ``avg``/``sum``/``min``/``max`` of a second field). Same plan as
        facet_terms (hit set → docmap → field join → tiny aggregate);
        the metrics ride the same partial aggregation, so the nested
        request costs exactly one more column per metric, not a second
        pass."""
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("doc_id", "url")
        j = hits.join(dm, "doc_id").join(
            field_values.select("url", bucket_field, metric_field), "url"
        )
        return (
            j.groupBy(bucket_field)
            .agg(
                F.count("*").alias("doc_count"),
                F.round(F.avg(metric_field), 4).alias("avg_v"),
                F.sum(metric_field).cast("long").alias("sum_v"),
                F.min(metric_field).alias("min_v"),
                F.max(metric_field).alias("max_v"),
            )
            .orderBy(F.col("doc_count").desc(), F.col(bucket_field).asc())
            .limit(int(size))
        )

    def index_stats(self) -> DataFrame:
        """ES ``_stats`` analogue computed from the index relations
        alone: one row (n_docs, n_deleted, n_terms, n_postings, sum_tf,
        avgdl). n_docs/avgdl come from the manifest corpus stats,
        n_deleted from pending tombstones, n_terms from the term
        dictionary, n_postings/sum_tf from a full decode of the posting
        segments (one pass over the index — the same cost class as ES
        force-merge accounting; never run per query). Everything except
        byte sizes is relationally checkable against the raw corpus,
        which makes this the index-integrity probe: a mismatch vs the
        corpus-side oracle means the index lost or duplicated
        postings."""
        from kafka_es_spark.operators.deletes import read_tombstone_ids

        spark = self.spark
        n_deleted = len(read_tombstone_ids(spark, self.index_dir) or ())
        n_terms = self.term_stats.select("term").distinct().count()
        segs = spark.read.parquet(os.path.join(self.index_dir, "postings"))
        p = self._postings_rows(segs).agg(
            F.count("*").alias("n_postings"),
            F.sum("tf").alias("sum_tf"),
        ).collect()[0]
        return spark.createDataFrame(
            [(
                int(self.n_docs), int(n_deleted), int(n_terms),
                int(p["n_postings"]), int(p["sum_tf"]),
                float(round(self.avgdl, 4)),
            )],
            "n_docs long, n_deleted long, n_terms long, n_postings long, "
            "sum_tf long, avgdl double",
        )

    def _hit_fields(
        self, query: str, field_values: DataFrame | None, field: str,
        mode: str = "or", min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """The hit set joined to its per-doc field values — the shared
        input relation of every aggregation (doc_id, url, field).

        ``field_values=None`` reads the field from the docmap's STORED
        fields instead (the ES doc-values path — fields persisted at
        build via ``build_index(store_fields=...)``, plus ``dl``, which
        every index stores): one join on the dense doc id, no external
        table, no second url-keyed shuffle. The external-relation path
        stays for fields the index doesn't store."""
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self._docmap
        if field_values is None:
            if field not in dm.columns:
                raise ValueError(
                    f"field {field!r} is not stored in this index's docmap "
                    f"(stored: {sorted(set(dm.columns) - {'doc_id'})}); "
                    "build with store_fields=(...) or pass field_values"
                )
            return hits.join(dm.select("doc_id", "url", field), "doc_id")
        return hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", field), "url"
        )

    def highlight_topk(
        self,
        query: str,
        docs_text: DataFrame,
        k: int = 10,
        window: int = 40,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        mode: str = "or",
    ) -> DataFrame:
        """ES highlight analogue: top-k hits with a snippet centered on
        the FIRST occurrence of any query term (case-insensitive; ties
        between terms resolve to the earliest position, so the choice is
        deterministic). ``docs_text`` is a (url, text) relation; snippet
        = ``2*window`` characters starting ``window`` before the match
        (clamped to the text start). Pure Column expressions — the
        per-term ``instr`` probes and the substring run JVM-side on only
        the k hit rows after the top-k join, never on the corpus."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        qterms = sorted(set(tokenize_py(query)))
        out = self.topk(
            query, k=k, round_to=round_to, with_url=True, fetch_k=fetch_k,
            mode=mode,
        )
        # LEFT join: a hit whose url is missing from docs_text keeps its
        # rank with a null snippet (ES never drops a hit because the
        # highlighter had nothing to read)
        j = out.join(docs_text.select("url", "text"), "url", "left")
        big = F.lit(2_000_000_000)
        lower_t = F.lower(F.col("text"))
        ps = [
            F.when(F.instr(lower_t, F.lit(t)) > 0, F.instr(lower_t, F.lit(t)))
            .otherwise(big)
            for t in qterms
        ]
        first = ps[0] if len(ps) == 1 else F.least(*ps)
        start = F.greatest(F.lit(1), first - F.lit(int(window)))
        snip = F.when(
            first < big,
            F.substring(F.col("text"), start, F.lit(2 * int(window))),
        ).otherwise(F.substring(F.col("text"), F.lit(1), F.lit(2 * int(window))))
        return j.select(
            "doc_id", "url", "score", snip.alias("snippet")
        ).orderBy(F.col("score").desc(), F.col("doc_id").asc())

    def _postings_rows(self, segs: DataFrame) -> DataFrame:
        """Decode posting segments to a relational (doc_id, term, tf)
        DataFrame — the bridge from the compressed index to plain
        Catalyst joins/aggregations. Streamed per Arrow batch in
        mapInPandas; cost O(postings of the segments passed in)."""
        codec = self.codec

        def explode_segs(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids_l, tf_l, terms_l = [], [], []
                for r in pdf.to_dict("records"):
                    ids, tfs = decode_segment(r, codec)
                    ids_l.append(ids)
                    tf_l.append(tfs)
                    terms_l.append(np.full(ids.size, r["term"], dtype=object))
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_l),
                        "term": np.concatenate(terms_l),
                        "tf": np.concatenate(tf_l).astype(np.int64),
                    }
                )

        return segs.mapInPandas(
            explode_segs, "doc_id long, term string, tf long"
        )

    def _dl_rows(self, segs: DataFrame) -> DataFrame:
        """Decode the touched ranges' dl arrays to relational
        (doc_id, dl) rows (one applyInPandas per doc range)."""

        def decode_dls(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            base, arr = decode_range_dls(pdf.to_dict("records"))
            return pd.DataFrame(
                {
                    "doc_id": base + np.arange(arr.size, dtype=np.int64),
                    "dl": arr.astype(np.int64),
                }
            )

        return self._query_dls(segs).groupBy("seg").applyInPandas(
            decode_dls, "doc_id long, dl long"
        )

    def _bm25_contrib_col(self):
        """The BM25 per-(doc, term) contribution as a Column over
        (tf, dl, w) — shared by every relational scorer."""
        return (
            F.col("w") * F.col("tf") * F.lit(K1 + 1.0)
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.lit(self.avgdl))
            )
        )

    def top_hits(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        buckets: int = 5,
        per_bucket: int = 2,
        round_to: int | None = 4,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        tie=None,
    ) -> DataFrame:
        """ES terms aggregation with a ``top_hits`` sub-aggregation: for
        the top ``buckets`` field buckets (doc_count desc, value asc),
        the ``per_bucket`` best-scoring hits — rows (field, doc_count,
        rnk, url, score) ordered by bucket rank then hit rank.

        Plan: the hit set (posting algebra) ⨝ docmap ⨝ field_values is
        the bucketed relation; scores come from the relational BM25
        scorer (the same segment-decode path as range_filtered_topk)
        joined on doc_id; ranking is a window partitioned BY THE BUCKET
        KEY — per-bucket local sorts, never a global one — and bucket
        selection is a tiny (#distinct values)-row aggregate broadcast
        back. ``tie`` optionally overrides the within-bucket tie-break
        column (default internal doc_id; pass e.g. a corpus id derived
        from the url when comparing against an external ranking).
        Scores are OR-mode BM25 sums over the doc's matched query terms
        — on an AND/msm hit set every doc matched its scoring terms, so
        these equal the bool-query scores ES reports in top_hits."""
        from pyspark.sql import Window

        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms = sorted(set(tokenize_py(query)))
        out_schema = (
            f"{field} string, doc_count long, rnk long, url string, "
            "score double"
        )
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            return spark.createDataFrame([], out_schema)
        ts = self.term_stats.filter(F.col("term").isin(qterms)).collect()
        weights = {r["term"]: idf(self.n_docs, int(r["df"])) for r in ts}
        if not weights or (mode == "and" and len(weights) < len(qterms)):
            return spark.createDataFrame([], out_schema)
        scored = self.relational_scores(query)
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        js = j.join(scored, "doc_id")
        if round_to is not None:
            js = js.withColumn("score", F.round("score", round_to))
        js = js.withColumn(
            "_tie", tie if tie is not None else F.col("doc_id")
        )
        w = Window.partitionBy(field).orderBy(
            F.col("score").desc(), F.col("_tie").asc()
        )
        ranked = js.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") <= int(per_bucket)
        )
        top_b = (
            j.groupBy(field)
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col(field).asc())
            .limit(int(buckets))
        )
        return (
            ranked.join(F.broadcast(top_b), field)
            .select(
                field, "doc_count",
                F.col("rnk").cast("long").alias("rnk"), "url", "score",
            )
            .orderBy(
                F.col("doc_count").desc(), F.col(field).asc(),
                F.col("rnk").asc(),
            )
        )

    def explain(
        self,
        query: str,
        urls: list[str],
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES ``_explain`` API analogue: the per-(doc, term) BM25 score
        breakdown for specific documents — rows (url, term, tf, dl, idf,
        contrib), one per query term the doc contains.

        Plan: the named docs resolve through the docmap to a tiny
        broadcast dimension; posting segments of the query terms decode
        relationally (shared `_postings_rows`) and the broadcast join
        discards everything but the explained docs before the dl/weight
        joins — cost O(postings of the query terms) scan, no corpus
        access, exactly what explaining against an inverted index
        costs. Tombstoned docs yield no rows (a deleted doc has no
        score to explain)."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms = sorted(set(tokenize_py(query)))
        out_cols = "url string, term string, tf long, dl long, idf double, contrib double"
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            return spark.createDataFrame([], out_cols)
        ts = self.term_stats.filter(F.col("term").isin(qterms)).collect()
        weights = {r["term"]: idf(self.n_docs, int(r["df"])) for r in ts}
        if not weights:
            return spark.createDataFrame([], out_cols)
        dm = (
            spark.read.parquet(os.path.join(self.index_dir, "docmap"))
            .filter(F.col("url").isin(list(urls)))
            .select("doc_id", "url")
        )
        if self.persistent_excluded:
            dm = dm.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        segs = self._query_segs(list(weights))
        w_df = spark.createDataFrame(
            [(t, float(w)) for t, w in sorted(weights.items())],
            "term string, w double",
        )
        out = (
            self._postings_rows(segs)
            .join(F.broadcast(dm), "doc_id")
            .join(self._dl_rows(segs), "doc_id")
            .join(F.broadcast(w_df), "term")
            .select(
                "url", "term", "tf", "dl",
                F.col("w").alias("idf"),
                self._bm25_contrib_col().alias("contrib"),
            )
        )
        if round_to is not None:
            out = out.withColumn("idf", F.round("idf", round_to)).withColumn(
                "contrib", F.round("contrib", round_to)
            )
        return out

    def more_like_this(
        self,
        url: str,
        docs_text: DataFrame,
        k: int = 10,
        max_query_terms: int = 10,
        min_term_freq: int = 1,
        min_doc_freq: int = 1,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES ``more_like_this`` query analogue: select the source doc's
        ``max_query_terms`` most representative terms by tf·idf (ES's
        "interesting terms", Lucene MoreLikeThis) and run them as a BM25
        OR query, excluding the source doc from the results
        (``include: false``, the MLT default).

        Term selection re-analyzes the doc's text (the ES path when no
        term vectors are stored): tokenize ONE doc, join its ≤doc-length
        vocabulary against the index term_stats for df, rank by tf·idf
        with term-asc tie-break, keep terms passing min_term_freq /
        min_doc_freq. The collect is bounded by the source doc's
        vocabulary — never corpus-sized. Scoring then rides the normal
        block-max WAND path."""
        from kafka_es_spark.functions.tokenize import tokens

        src = docs_text.filter(F.col("url") == url).select("text")
        tf_rows = (
            src.select(F.explode(tokens("text")).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("tf"))
            .filter(F.col("tf") >= int(min_term_freq))
            .join(self.term_stats.select("term", "df"), "term")
            .filter(F.col("df") >= int(min_doc_freq))
            .collect()
        )
        ranked = sorted(
            tf_rows,
            key=lambda r: (-(int(r["tf"]) * idf(self.n_docs, int(r["df"]))), r["term"]),
        )[: int(max_query_terms)]
        terms = [r["term"] for r in ranked]
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        # over-fetch one slot: the source doc itself scores high and is
        # dropped post-ranking
        out = self.topk(
            " ".join(terms), k=max(k, fetch_k or 0) + 1, round_to=round_to,
            with_url=True,
        ).filter(F.col("url") != url)
        if not with_url:
            out = out.select("doc_id", "score")
        return out.limit(max(k, fetch_k or 0))

    def suggest(
        self,
        text: str,
        max_edits: int = 1,
        size: int = 5,
        suggest_mode: str = "missing",
        prefix_length: int = 1,
    ) -> DataFrame:
        """ES term-suggester analogue (``suggest: {text, term: {...}}``):
        for each input token, dictionary terms within ``max_edits``
        Levenshtein edits ranked (distance asc, doc freq desc, term asc),
        top ``size`` per input — rows (input, suggestion, dist, freq,
        rnk). ``suggest_mode``: 'missing' suggests only for tokens absent
        from the dictionary (the ES default), 'popular' only corrections
        with strictly higher df than the input term, 'always' for every
        token.

        Plan: inputs are a tiny broadcast dimension against the term
        dictionary scan; the prefix anchor and a ±max_edits length band
        prune the dictionary BEFORE the Levenshtein evaluation (the
        Lucene FuzzySuggester pre-filter), and the per-input window
        ranks |inputs|·candidates rows — no corpus access at all."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        toks = sorted(set(tokenize_py(text)))
        out_cols = (
            "input string, suggestion string, dist long, freq long, rnk long"
        )
        if not toks:
            return spark.createDataFrame([], out_cols)
        if suggest_mode not in ("missing", "popular", "always"):
            raise ValueError(f"unknown suggest_mode: {suggest_mode!r}")
        present = {
            r["term"]: int(r["df"])
            for r in self.term_stats.filter(F.col("term").isin(toks)).collect()
        }
        if suggest_mode == "missing":
            toks = [t for t in toks if t not in present]
            if not toks:
                return spark.createDataFrame([], out_cols)
        inputs = spark.createDataFrame(
            [(t, present.get(t, 0)) for t in toks], "input string, in_df long"
        )
        cand = (
            self.term_stats.select("term", "df")
            .join(
                F.broadcast(inputs),
                (F.length("term") >= F.length("input") - int(max_edits))
                & (F.length("term") <= F.length("input") + int(max_edits))
                & (
                    F.substring("term", 1, int(prefix_length))
                    == F.substring("input", 1, int(prefix_length))
                )
                & (F.col("term") != F.col("input")),
            )
            .withColumn("dist", F.levenshtein("term", "input").cast("long"))
            .filter(F.col("dist") <= int(max_edits))
        )
        if suggest_mode == "popular":
            cand = cand.filter(F.col("df") > F.col("in_df"))
        w = Window.partitionBy("input").orderBy(
            F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
        )
        return (
            cand.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= int(size))
            .select(
                "input",
                F.col("term").alias("suggestion"),
                "dist",
                F.col("df").alias("freq"),
                "rnk",
            )
            .orderBy("input", "rnk")
        )

    def phrase_suggest(
        self,
        text: str,
        docs_text: DataFrame | None = None,
        max_edits: int = 1,
        per_slot: int = 5,
        max_errors: int = 1,
        size: int = 5,
        prefix_length: int = 1,
        round_to: int = 4,
    ) -> DataFrame:
        """ES phrase-suggester analogue (``suggest: {phrase: {...}}``):
        whole-input corrections ranked by a bigram language model over
        the corpus, instead of the term suggester's per-token view.

        Per input slot, candidates are dictionary terms within
        ``max_edits`` (the original term rides along at distance 0 —
        forced if absent from the dictionary, so a slot can always stay
        unchanged), capped at ``per_slot`` by (dist, df desc, term). A
        candidate phrase changes at most ``max_errors`` slots (the ES
        knob); phrases score ``Σ ln P(tᵢ|tᵢ₋₁)`` under the corpus bigram
        LM with Laplace (+1) smoothing — the same model lm_perplexity
        trains — rounded for engine portability.

        Plan at 10^12 docs: the dictionary scan is pruned by prefix +
        length band exactly as ``suggest``. LM counts come from the
        index-time ``bigram_stats`` relation when the index carries one
        (build_bigram_stats — each suggest call is then a candidate-pair
        lookup against a (prev, cur)-sorted parquet relation, NO corpus
        scan); otherwise from a per-query corpus pass over ``docs_text``
        joined against a BROADCAST candidate-pair dimension (≤ per_slot²
        · slots rows). Everything collected is query-sized (candidates,
        pair counts, source counts, one scalar V). Phrase enumeration is
        driver-side over ≤ Σ|candᵢ|^max_errors combos — bounded by the
        input length, never the corpus.

        Output: (suggestion, score, n_changed), score desc."""
        from kafka_es_spark.functions.tokenize import tokenize_py, tokens

        spark = self.spark
        toks = tokenize_py(text)
        if len(toks) < 2:
            raise ValueError("phrase_suggest needs >= 2 tokens (bigram LM)")
        if max_errors < 0:
            raise ValueError("max_errors must be >= 0")

        slots = spark.createDataFrame(
            [(i, t) for i, t in enumerate(toks)], "slot long, input string"
        )
        cand = (
            self.term_stats.select("term", "df")
            .join(
                F.broadcast(slots),
                (F.length("term") >= F.length("input") - int(max_edits))
                & (F.length("term") <= F.length("input") + int(max_edits))
                & (
                    F.substring("term", 1, int(prefix_length))
                    == F.substring("input", 1, int(prefix_length))
                ),
            )
            .withColumn("dist", F.levenshtein("term", "input").cast("long"))
            .filter(F.col("dist") <= int(max_edits))
        )
        w = Window.partitionBy("slot").orderBy(
            F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
        )
        top = (
            cand.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= int(per_slot))
            .select("slot", "term", "dist")
            .collect()
        )
        by_slot: dict[int, list[tuple[str, int]]] = {}
        for r in top:
            by_slot.setdefault(int(r["slot"]), []).append(
                (r["term"], int(r["dist"]))
            )
        for i, t in enumerate(toks):  # original always available, dist 0
            cands = by_slot.setdefault(i, [])
            if t not in {c for c, _ in cands}:
                cands.append((t, 0))
            by_slot[i] = sorted(
                {(c, 0 if c == t else d) for c, d in cands},
                key=lambda e: (e[1], e[0]),
            )

        # bigram/unigram counts for ONLY the candidate pairs
        pairs = sorted({
            (a, b)
            for i in range(len(toks) - 1)
            for a, _ in by_slot[i]
            for b, _ in by_slot[i + 1]
        })
        pair_dim = spark.createDataFrame(pairs, "prev string, cur string")
        srcs = sorted({a for a, _ in pairs})
        bs_dir = os.path.join(self.index_dir, "bigram_stats")
        if os.path.isdir(bs_dir):
            # index-time LM (build_bigram_stats): candidate-pair lookups
            # against the persisted partials — the `prev IN srcs` filter
            # pushes into the (prev, cur)-sorted parquet scan, so a
            # suggest call reads a few row groups, never the corpus.
            # U(prev) = Σ_cur B(prev, cur) by construction.
            rel = spark.read.parquet(bs_dir).filter(F.col("prev").isin(srcs))
            # ONE collect for pair counts, unigram counts AND the V scalar
            # (r6: three sequential collect jobs → one union job — each
            # local-mode job costs a fixed ~0.3 s of scheduling, so the
            # per-suggest latency is job-count-bound, guide §1/§2.6)
            pair_agg = (
                rel.join(F.broadcast(pair_dim), ["prev", "cur"])
                .groupBy("prev", "cur").agg(F.sum("n").alias("n"))
                .select(F.lit("pair").alias("kind"), "prev", "cur", "n")
            )
            uni_agg = rel.groupBy("prev").agg(F.sum("n").alias("n")).select(
                F.lit("uni").alias("kind"), "prev",
                F.lit(None).cast("string").alias("cur"), "n",
            )
            # V = dictionary size; term_stats is already per-term unique
            v_agg = self.term_stats.agg(
                F.count(F.lit(1)).alias("n")
            ).select(
                F.lit("v").alias("kind"),
                F.lit(None).cast("string").alias("prev"),
                F.lit(None).cast("string").alias("cur"), "n",
            )
            rows = pair_agg.unionByName(uni_agg).unionByName(v_agg).collect()
            big = {
                (r["prev"], r["cur"]): int(r["n"])
                for r in rows if r["kind"] == "pair"
            }
            uni = {
                r["prev"]: int(r["n"]) for r in rows if r["kind"] == "uni"
            }
            v = int(next(r["n"] for r in rows if r["kind"] == "v"))
        elif docs_text is not None:
            tk = docs_text.select(
                "url", F.posexplode(tokens("text")).alias("pos", "cur")
            )
            winp = Window.partitionBy("url").orderBy("pos")
            tr = tk.withColumn("prev", F.lag("cur").over(winp)).filter(
                F.col("prev").isNotNull()
            )
            big = {
                (r["prev"], r["cur"]): int(r["n"])
                for r in tr.join(F.broadcast(pair_dim), ["prev", "cur"])
                .groupBy("prev", "cur").agg(F.count("*").alias("n")).collect()
            }
            uni = {
                r["prev"]: int(r["n"])
                for r in tr.filter(F.col("prev").isin(srcs))
                .groupBy("prev").agg(F.count("*").alias("n")).collect()
            }
            v = int(
                docs_text.select(F.explode(tokens("text")).alias("t"))
                .agg(F.countDistinct("t")).collect()[0][0]
            )
        else:
            raise ValueError(
                "phrase_suggest needs the index's bigram_stats relation "
                "(plans.build_index.build_bigram_stats) or a docs_text "
                "corpus to derive the LM from"
            )

        import math

        def lp(a: str, b: str) -> float:
            return math.log((big.get((a, b), 0) + 1) / (uni.get(a, 0) + v))

        results: list[tuple[str, float, int]] = []

        def rec(i: int, chosen: list[str], changed: int) -> None:
            if i == len(toks):
                s = sum(lp(chosen[j - 1], chosen[j]) for j in range(1, len(chosen)))
                results.append((" ".join(chosen), round(s, round_to), changed))
                return
            for c, _ in by_slot[i]:
                dc = changed + (c != toks[i])
                if dc <= max_errors:
                    rec(i + 1, chosen + [c], dc)

        rec(0, [], 0)
        out = sorted(results, key=lambda e: (-e[1], e[0]))[: int(size)]
        return spark.createDataFrame(
            out, "suggestion string, score double, n_changed long"
        )

    def mget(
        self,
        urls: list[str],
        field_values: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``_mget`` analogue: one row per requested url — (url,
        found, doc_id[, stored fields]). Tombstoned docs report
        found=false (a deleted doc is gone from every read path).

        Plan: the request list is a tiny broadcast dimension; the
        docmap (and optional field relation) streams past it in an
        inner join — the big sides are never shuffled and their scans
        prune on the broadcast keys — then the ≤|urls|-row results
        left-join back onto the request list to materialize the
        found=false rows."""
        spark = self.spark
        req = spark.createDataFrame([(u,) for u in urls], "url string")
        dm = spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("url", "doc_id")
        if self.persistent_excluded:
            dm = dm.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        hit = dm.join(F.broadcast(req), "url")
        out = req.join(hit, "url", "left").select(
            "url", F.col("doc_id").isNotNull().alias("found"), "doc_id"
        )
        if field_values is not None:
            # fields attach only to FOUND (live) docs — a tombstoned doc
            # still present in the source table must not leak its fields
            fv_hit = field_values.join(
                F.broadcast(hit.select("url")), "url"
            )
            out = out.join(fv_hit, "url", "left")
        return out

    def relational_scores(self, query: str) -> DataFrame:
        """Full OR-mode BM25 scores of every live doc matching >= 1 query
        term, as a relational (doc_id, score) DataFrame (unrounded) —
        the building block multi-field scoring composes over. Same
        segment-decode path as range_filtered_topk: cost O(postings of
        the query terms), pruned scan, one hash aggregation; pending
        tombstones excluded."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms = sorted(set(tokenize_py(query)))
        empty = "doc_id long, score double"
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            return spark.createDataFrame([], empty)
        segs = self._query_segs(qterms)
        # One seg-cogroup instead of the old postings⨝dl doc_id shuffle join
        # + hash aggregation (3 Exchanges → 0): postings and range-dls are
        # both seg-organized, a doc lives in exactly ONE range, so per-range
        # numpy scoring (dl gathered position-indexed, per-doc sums via
        # reduceat in term-lex order) yields final (doc_id, score) rows with
        # no doc-keyed shuffle at all — the same plan shape topk already
        # uses (guide §2.4). Arithmetic matches the old Column expression
        # op-for-op (same IEEE doubles); the per-doc sum order is now
        # deterministic (term-lex) where the hash-agg order was not.
        dls_rel = self._query_dls(segs)
        n_docs, avgdl, codec = self.n_docs, self.avgdl, self.codec
        excluded = self.persistent_excluded or None

        def score_range(key, pdf, dpdf):
            if len(pdf) == 0:
                return _empty_scores()
            dl_base, dl_arr = _range_dls(key, dpdf)
            rows = pdf.to_dict("records")
            rows.sort(key=lambda r: r["term"])
            ids_l, con_l = [], []
            for r in rows:
                ids, tfs = decode_segment(r, codec)
                w = idf(n_docs, int(r["df_term"]))
                tf = tfs.astype(np.float64)
                dl = _gather_dls(ids, dl_base, dl_arr).astype(np.float64)
                con = (w * tf) * (K1 + 1.0) / (
                    tf + K1 * ((1.0 - B) + (B * dl) / avgdl)
                )
                ids_l.append(ids)
                con_l.append(con)
            ids_all = np.concatenate(ids_l)
            con_all = np.concatenate(con_l)
            order = np.argsort(ids_all, kind="stable")
            ids_s = ids_all[order]
            con_s = con_all[order]
            starts = np.flatnonzero(
                np.concatenate([[True], ids_s[1:] != ids_s[:-1]])
            )
            uids = ids_s[starts]
            scores = np.add.reduceat(con_s, starts)
            if excluded is not None and uids.size:
                dead = np.fromiter(
                    excluded, dtype=np.int64, count=len(excluded)
                )
                keep = ~np.isin(uids, dead)
                uids, scores = uids[keep], scores[keep]
            return pd.DataFrame({"doc_id": uids, "score": scores})

        return (
            segs.groupBy("seg")
            .cogroup(dls_rel.groupBy("seg"))
            .applyInPandas(score_range, "doc_id long, score double")
        )

    def _score_cogroup(self, terms, kernel, schema: str) -> DataFrame:
        """Run a per-range numpy ``kernel(key, pdf, dpdf)`` over ONE
        seg-cogroup of the query terms' posting segments (pdf: raw segment
        rows of one seg) and that seg's range-dl rows (dpdf) — the
        zero-doc-shuffle frame every relational scorer shares (guide §2.4:
        postings and range-dls are both seg-organized and a doc lives in
        exactly one range, so the per-doc result needs no doc_id-keyed
        exchange at all; same plan shape as relational_scores / topk).
        The r6 rewrite target for the former ``_postings_rows ⨝ _dl_rows``
        doc_id-join sites: that shape shuffled decoded posting-sized rows
        twice by doc_id and hash-aggregated them (3 Exchanges per site)."""
        segs = self._query_segs(list(terms))
        dls = self._query_dls(segs)
        return (
            segs.groupBy("seg")
            .cogroup(dls.groupBy("seg"))
            .applyInPandas(kernel, schema)
        )

    def range_filtered_topk(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        lo: float,
        hi: float,
        k: int = 10,
        round_to: int | None = 4,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES bool {must: match, filter: range} analogue: top-k of docs
        matching the query whose numeric ``field`` lies in [lo, hi].
        Filter context NEVER changes scoring stats — idf comes from the
        index term_stats and avgdl from the global stats, exactly as ES
        keeps index-level stats under filters.

        Plan: the allowed doc set = query hit set (posting algebra) ⨝
        docmap ⨝ field_values with the range predicate pushed into the
        scan; scoring is fully RELATIONAL over the index — posting
        segments of the query terms decode to (doc_id, term, tf) rows in
        mapInPandas (pruned scan, no corpus re-tokenize), range_dls
        decode to (doc_id, dl), and one hash aggregation sums the BM25
        contributions. Cost ~ O(postings of the query terms), the same
        as an exhaustive scorer; joins are plain equi-joins Catalyst is
        free to reorder/broadcast."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        k = max(k, fetch_k or 0)
        qterms = sorted(set(tokenize_py(query)))
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            return spark.createDataFrame([], TOPK_SCHEMA)
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self._docmap.select("doc_id", "url")
        allowed = (
            hits.join(dm, "doc_id")
            .join(field_values.select("url", field), "url")
            .filter((F.col(field) >= lo) & (F.col(field) <= hi))
            .select("doc_id")
        )
        # r6: scoring reuses the relational_scores seg-cogroup (final
        # (doc_id, score) rows with zero doc_id-keyed exchanges) instead of
        # the old postings ⨝ allowed ⨝ dl_rows ⨝ weights doc_id-shuffle
        # chain + hash aggregation (guide §2.4). Same weights derivation
        # (tokenize_py + index idf), same per-contribution arithmetic;
        # the per-doc sum order is now deterministic (term-lex) where the
        # hash aggregate's was not. The allowed set stays a plain
        # equi-join on the rank-sized score relation.
        out = (
            self.relational_scores(query)
            .join(allowed, "doc_id")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        if with_url:
            out = out.join(dm, "doc_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        return out

    def significant_terms(
        self,
        query: str,
        docs_text: DataFrame,
        size: int = 10,
        min_doc_count: int = 3,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES significant_terms-aggregation analogue: terms over-
        represented in the hit set vs the whole index, scored with the
        JLH heuristic ``(fg% − bg%) · (fg% / bg%)`` (the ES default).
        ``docs_text`` is a (url, text) relation for the foreground
        re-tokenize; the BACKGROUND document frequencies come from the
        index's own term_stats — no second corpus pass. Returns the top
        ``size`` rows (term, fg_count, bg_count, sig_score), score desc
        then term asc; ``min_doc_count`` prunes the noise floor before
        ranking (ES default 3).

        Plan: hit set → docmap → text join, one tokenize+explode of the
        HIT docs only (foreground is usually a small fraction of the
        corpus), distinct-per-doc aggregation to fg df, broadcast-sized
        join against the term_stats aggregate. The only corpus-sized
        input is the pre-existing index metadata."""
        from kafka_es_spark.functions.tokenize import tokens

        hits = self._hit_fields(
            query, docs_text, "text", mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        n_fg = hits.count()
        if n_fg == 0:
            return self.spark.createDataFrame(
                [],
                "term string, fg_count long, bg_count long, sig_score double",
            )
        fg = (
            hits.select(F.explode(F.array_distinct(tokens("text"))).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("fg_count"))
            .filter(F.col("fg_count") >= int(min_doc_count))
        )
        bg = self.term_stats.select(
            "term", F.col("df").alias("bg_count")
        )
        n_bg = self.n_docs
        fgp = F.col("fg_count") / F.lit(float(n_fg))
        bgp = F.col("bg_count") / F.lit(float(n_bg))
        return (
            fg.join(bg, "term")
            .withColumn(
                "sig_score", F.round((fgp - bgp) * (fgp / bgp), 4)
            )
            .orderBy(F.col("sig_score").desc(), F.col("term").asc())
            .limit(int(size))
        )

    def agg_histogram(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        interval: float,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES histogram-aggregation analogue: bucket the matching docs'
        numeric ``field`` into fixed-width intervals — (bucket,
        doc_count) rows with bucket = floor(value / interval) · interval,
        ordered by bucket asc (ES histogram key order). Empty buckets are
        omitted (ES min_doc_count=1 behavior). One shuffle to the tiny
        (#buckets)-row aggregate after the hit/field joins."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        bucket = (F.floor(F.col(field) / F.lit(interval)) * F.lit(interval))
        return (
            j.groupBy(bucket.cast("long").alias("bucket"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy("bucket")
        )

    def agg_stats(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES stats-aggregation analogue: one row (n_docs_agg, min_v,
        max_v, sum_v, avg_v) over the matching docs' numeric ``field`` —
        a pure partial-aggregate plan (map-side combine, single tiny
        reduce)."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        return j.agg(
            F.count(field).alias("n_docs_agg"),
            F.min(field).alias("min_v"),
            F.max(field).alias("max_v"),
            F.sum(field).cast("long").alias("sum_v"),
            F.round(F.avg(field), 4).alias("avg_v"),
        )

    def sort_topk(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        k: int = 10,
        ascending: bool = False,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES sort-by-field analogue (``sort: [{field: desc}]``): the top
        ``k`` docs of the query's hit set ordered by a stored field
        instead of ``_score`` (``reference/src/main/.../BulkAction.kt``
        delegates this to ES's doc-values sort).

        Scoring is skipped entirely — filter-context hit set from posting
        algebra, one join chain to the field value, then a global
        TakeOrdered of ``max(k, fetch_k)`` rows: O(hits) with no
        range_dls read and no tf decode, the exact plan ES runs when
        ``track_scores=false``. ``fetch_k`` over-fetches so a caller
        re-ranking on an external tie key (corpus id from the url) keeps
        every member of a field-value tie group at the k boundary."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        order = F.col(field).asc() if ascending else F.col(field).desc()
        return (
            j.select("doc_id", "url", field)
            .orderBy(order, F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )

    def agg_cardinality(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        exact: bool = False,
        rsd: float = 0.05,
    ) -> DataFrame:
        """ES cardinality-aggregation analogue: one row ``(value_count)``
        — the number of distinct ``field`` values among the matching
        docs. ES's cardinality agg is approximate by design (HLL++,
        precision_threshold); the default here is Spark's
        ``approx_count_distinct`` — the same HyperLogLog++ family, one
        pass, constant sketch memory per partition, mergeable map-side —
        which is the only shape that holds at 10^12 docs. ``exact=True``
        switches to ``count(DISTINCT field)`` (a shuffle keyed on the
        value — fine for low-cardinality fields and for oracle
        checking)."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        agg = (
            F.countDistinct(field) if exact
            else F.approx_count_distinct(field, rsd)
        )
        return j.agg(agg.alias("value_count"))

    def agg_percentiles(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        percents: list[float],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        exact: bool = True,
        accuracy: int = 10000,
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES percentiles-aggregation analogue: one ``(pct, value)`` row
        per requested percentile of the matching docs' numeric ``field``,
        ordered by pct. ``exact=True`` uses Spark's exact ``percentile``
        (linear interpolation on the sorted values — the quantile_cont
        contract, oracle-reproducible); ES's own agg is approximate by
        design (t-digest), and the matching scale path here is
        ``exact=False`` → ``percentile_approx`` (mergeable sketch,
        constant memory per partition — the only shape that holds when
        the hit set doesn't fit an aggregation buffer). Reference parity:
        the reference delegates percentile aggs to ES's t-digest
        (`reference/src/main/.../BulkAction.kt` index ops)."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        pcts = [float(p) for p in percents]
        parr = F.array(*[F.lit(p) for p in pcts])
        agg_fn = (
            F.percentile(field, parr) if exact
            else F.percentile_approx(field, parr, accuracy)
        )
        out = (
            j.agg(agg_fn.alias("vals"))
            .select(F.posexplode("vals").alias("pos", "value"))
            .select(
                F.element_at(parr, F.col("pos") + 1).alias("pct"),
                F.col("value").cast("double").alias("value"),
            )
        )
        if round_to is not None:
            out = out.withColumn("value", F.round("value", round_to))
        return out.orderBy("pct")

    def agg_percentile_ranks(
        self,
        query: str,
        field_values: DataFrame | None,
        field: str,
        values: list[float],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES percentile_ranks aggregation (the percentiles inverse): for
        each requested value v, the percentage of matching docs whose
        ``field`` <= v — one (value, pct) row per v, value-ordered. ES
        computes this from the t-digest CDF; here the EXACT CDF (share of
        values <= v), the same exact-tier choice agg_percentiles makes,
        so the SQL oracle is a conditional count.

        Plan: one aggregate row of |values| conditional sums + the total
        (all map-side combinable over the hit-join scan), unpivoted with
        ``stack`` — #values output rows, no second shuffle."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        vals = [float(v) for v in values]
        aggs = [
            F.sum(F.when(F.col(field) <= F.lit(v), 1).otherwise(0))
            .cast("double").alias(f"_le{i}")
            for i, v in enumerate(vals)
        ] + [F.count(F.lit(1)).cast("double").alias("_n")]
        stack = ", ".join(
            f"CAST({v!r} AS DOUBLE), _le{i}" for i, v in enumerate(vals)
        )
        out = (
            j.agg(*aggs)
            .selectExpr(
                f"stack({len(vals)}, {stack}) AS (value, _le)", "_n"
            )
            .select(
                "value",
                (F.lit(100.0) * F.col("_le") / F.col("_n")).alias("pct"),
            )
        )
        if round_to is not None:
            out = out.withColumn("pct", F.round("pct", round_to))
        return out.orderBy("value")

    def scripted_metric(
        self,
        query: str,
        field_values: DataFrame | None,
        field: str,
        map_script: str,
        reduce: str = "sum",
        mode: str = "or",
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES scripted_metric aggregation, the painless-arithmetic subset:
        ``map_script`` is a SQL expression over the hit row (the map
        phase), Spark's partial aggregation IS the combine phase (per-
        partition partial ``reduce`` states, exactly the scripted_metric
        combine contract), and the final merge is the reduce phase. One
        (value) row out.

        Reduce portability: the mapped value is rounded to 6 dp and cast
        to DECIMAL(38,6) before a sum/avg reduce, so the result is EXACT
        and independent of partitioning/summation order — a float64 sum
        would drift with partition count and break both the two-
        parallelism identity and the SQL oracle. min/max need no cast."""
        j = self._hit_fields(query, field_values, field, mode=mode)
        mapped = F.expr(map_script)
        if reduce in ("sum", "avg"):
            mapped = F.round(mapped, 6).cast("decimal(38,6)")
            agg = F.sum(mapped) if reduce == "sum" else F.avg(mapped)
        elif reduce == "min":
            agg = F.min(mapped)
        elif reduce == "max":
            agg = F.max(mapped)
        else:
            raise ValueError(f"unknown scripted_metric reduce: {reduce!r}")
        out = j.agg(agg.cast("double").alias("value"))
        if round_to is not None:
            out = out.withColumn("value", F.round("value", round_to))
        return out

    def random_score_topk(
        self,
        query: str,
        seed: int,
        k: int = 10,
        mode: str = "or",
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES function_score random_score (seeded): a deterministic
        uniform [0,1) score per (doc, seed) — ES hashes the seed with the
        doc's field (default _seq_no; deployments pin ``field: _id`` for
        stable sampling). Here hash32(url:seed)/2^32 — the repo's portable
        md5 hash, so the same doc gets the same score on any engine, any
        parallelism, any index rebuild (urls are stable; internal ids are
        not). The standard use is a deterministic random sample of the
        hit set; top-k by the random score IS that sample.

        Plan: hit set → docmap join → pure-Column hash arithmetic →
        TakeOrdered. No RNG state, no shuffle beyond the hit join."""
        from kafka_es_spark.operators.dedup import hash32

        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        score = hash32(
            F.concat(F.col("url"), F.lit(f":{int(seed)}"))
        ) / F.lit(float(2**32))
        if round_to is not None:
            score = F.round(score, round_to)
        out = (
            hits.join(dm.select("doc_id", "url"), "doc_id")
            .select("doc_id", "url", score.alias("score"))
        )
        if self.persistent_excluded:
            out = out.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        return out.orderBy(
            F.col("score").desc(), F.col("url").asc()
        ).limit(int(k))

    def agg_random_sampler(
        self,
        query: str,
        field: str,
        field_values: DataFrame | None = None,
        probability: float = 0.1,
        seed: int = 42,
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES ``random_sampler`` aggregation: the metric sub-agg runs over
        a probability-sampled subset of the hit set and doc_count scales
        back by 1/p (how ES serves dashboard aggs over 10^12 docs at
        interactive latency). ES samples per-shard with a seeded RNG;
        here membership is the portable md5 uniform over the url
        (``hash32(url:seed)/2^32 < p``) — same sample on any engine,
        parallelism, or rebuild, and the oracle replays it exactly.

        One row: (sampled_docs, doc_count_est, sum_v_est, avg_v) —
        doc_count/sum scale by 1/p (Horvitz-Thompson), avg is the plain
        sample mean (already unbiased). Plan: hit set → docmap join →
        pushable hash predicate → one partial aggregate."""
        if not 0.0 < probability <= 1.0:
            raise ValueError(f"probability must be in (0, 1], got {probability}")
        from kafka_es_spark.operators.dedup import hash32

        j = self._hit_fields(query, field_values, field, mode=mode)
        u = hash32(F.concat(F.col("url"), F.lit(f":{int(seed)}"))) / F.lit(
            float(2**32)
        )
        s = j.filter(u < F.lit(float(probability)))
        inv = 1.0 / float(probability)
        return s.agg(
            F.count(field).alias("sampled_docs"),
            F.round(F.count(field) * F.lit(inv), 0)
            .cast("long").alias("doc_count_est"),
            F.round(F.sum(field) * F.lit(inv), round_to).alias("sum_v_est"),
            F.round(F.avg(field), round_to).alias("avg_v"),
        )

    def runtime_field_topk(
        self,
        query: str,
        field_values: DataFrame | None,
        runtime_expr: str,
        where: str | None = None,
        k: int = 10,
        mode: str = "or",
        stored_cols: tuple[str, ...] = (),
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES runtime fields (runtime_mappings): a field computed at
        QUERY time from other fields by a script — here ``runtime_expr``,
        a SQL expression over the hit row — usable in filter context
        (``where``, over the computed column ``rf``) and as the sort key,
        exactly the search-request runtime_mappings contract (no index
        change, no reindex). ``field_values=None`` reads ``stored_cols``
        from the docmap's stored fields (the doc-values path).

        Plan: the expression is a pure Column over the hit join —
        Catalyst folds it into the scan projection; the filter on it runs
        before the TakeOrdered. Nothing materializes corpus-wide."""
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        # dl (always stored) rides along — token-count-normalized runtime
        # fields are the common case
        if field_values is None:
            missing = [c for c in stored_cols if c not in dm.columns]
            if missing:
                raise ValueError(
                    f"runtime field needs stored columns {missing} "
                    f"(stored: {sorted(set(dm.columns) - {'doc_id'})})"
                )
            j = hits.join(
                dm.select("doc_id", "url", "dl", *stored_cols), "doc_id"
            )
        else:
            j = hits.join(dm.select("doc_id", "url", "dl"), "doc_id").join(
                field_values, "url"
            )
        rf = F.expr(runtime_expr).cast("double")
        if round_to is not None:
            rf = F.round(rf, round_to)
        out = j.select("doc_id", "url", rf.alias("rf"))
        if where is not None:
            out = out.filter(where)
        if self.persistent_excluded:
            out = out.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        return out.orderBy(F.col("rf").desc(), F.col("url").asc()).limit(int(k))

    def agg_ranges(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        ranges: list[tuple[float | None, float | None]],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES range-aggregation analogue: one ``(range_key, doc_count)``
        row per requested range over the matching docs' numeric
        ``field``. ES semantics: ``from`` inclusive, ``to`` exclusive,
        open ends allowed (key rendered ``*-100``/``100-400``/``400-*``),
        ranges may overlap (each bucket counts independently), and every
        requested range appears even at doc_count 0. Plan: conditional
        inner join of the hit set against the broadcast tiny ranges
        relation (O(hits x n_ranges) predicate work, no extra shuffle
        beyond the (n_ranges)-row aggregate), then a left join back from
        the ranges relation to restore empty buckets."""

        def _key(lo, hi):
            f = lambda v: "*" if v is None else format(float(v), "g")
            return f"{f(lo)}-{f(hi)}"

        rdf = self.spark.createDataFrame(
            [
                (_key(lo, hi),
                 None if lo is None else float(lo),
                 None if hi is None else float(hi))
                for lo, hi in ranges
            ],
            "range_key string, lo double, hi double",
        )
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        cond = (
            (F.col("lo").isNull() | (F.col(field) >= F.col("lo")))
            & (F.col("hi").isNull() | (F.col(field) < F.col("hi")))
        )
        counts = (
            j.join(F.broadcast(rdf), cond)
            .groupBy("range_key")
            .agg(F.count("*").alias("doc_count"))
        )
        return (
            rdf.select("range_key")
            .join(counts, "range_key", "left")
            .select(
                "range_key",
                F.coalesce("doc_count", F.lit(0)).cast("long").alias("doc_count"),
            )
            .orderBy("range_key")
        )

    def agg_ip_range(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        ranges: list,
        mode: str = "or",
    ) -> DataFrame:
        """ES ``ip_range`` aggregation (IPv4 subset): buckets are CIDR
        strings (``"10.0.0.0/9"`` — the block, to-exclusive) or
        ``(from_ip, to_ip)`` tuples (from inclusive, to exclusive, None
        open ends), overlapping allowed, empty buckets kept — the
        agg_ranges contract over the ip field's sortable uint32 form.
        Range parsing is driver-side (ipaddress stdlib); the per-row
        work is one Column split/arithmetic + the broadcast conditional
        join."""
        import ipaddress

        from kafka_es_spark.functions.textstats import ipv4_to_long

        rows = []
        for r in ranges:
            if isinstance(r, str):
                net = ipaddress.ip_network(r, strict=True)
                rows.append((r, int(net.network_address),
                             int(net.network_address) + net.num_addresses))
            else:
                lo, hi = r
                key = (
                    f"{lo if lo is not None else '*'}-"
                    f"{hi if hi is not None else '*'}"
                )
                rows.append((
                    key,
                    None if lo is None else int(ipaddress.IPv4Address(lo)),
                    None if hi is None else int(ipaddress.IPv4Address(hi)),
                ))
        rdf = self.spark.createDataFrame(
            rows, "range_key string, lo long, hi long"
        )
        j = self._hit_fields(query, field_values, field, mode=mode)
        v = ipv4_to_long(F.col(field))
        cond = (
            (F.col("lo").isNull() | (v >= F.col("lo")))
            & (F.col("hi").isNull() | (v < F.col("hi")))
        )
        counts = (
            j.join(F.broadcast(rdf), cond)
            .groupBy("range_key")
            .agg(F.count("*").alias("doc_count"))
        )
        return (
            rdf.select("range_key")
            .join(counts, "range_key", "left")
            .select(
                "range_key",
                F.coalesce("doc_count", F.lit(0)).cast("long").alias("doc_count"),
            )
            .orderBy("range_key")
        )

    def field_caps(self) -> DataFrame:
        """The ES ``_field_caps`` API: one row per queryable field —
        (field, type, searchable, aggregatable, stored). The analyzed
        ``text`` field is searchable but not aggregatable (no doc
        values, exactly ES's text type); docmap stored columns are
        aggregatable doc-values fields. Pure metadata: one docmap
        schema read, no data scan."""
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        rows = [("text", "text", True, False, False),
                ("url", "keyword", True, True, True),
                ("dl", "long", False, True, True)]
        for f_ in dm.schema.fields:
            if f_.name in ("doc_id", "url", "dl"):
                continue
            rows.append((f_.name, f_.dataType.simpleString(),
                         False, True, True))
        return self.spark.createDataFrame(
            rows,
            "field string, type string, searchable boolean, "
            "aggregatable boolean, stored boolean",
        )

    def validate_query(self, query: str, mode: str = "or") -> dict:
        """The ES ``_validate/query?explain=true`` API: analyze the query
        without running it — returns validity, the analyzed terms, which
        are present in the term dictionary, and the Lucene-style
        rewrite description. Driver-side only (one ≤|q|-row term_stats
        probe), never a postings scan."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        if mode not in ("or", "and"):
            return {"valid": False, "error": f"unknown mode {mode!r}"}
        terms = sorted(set(tokenize_py(query)))
        if not terms:
            return {"valid": False, "error": "query analyzes to no terms"}
        present = sorted(
            r["term"] for r in
            self.term_stats.filter(F.col("term").isin(terms)).collect()
        )
        op = " +" if mode == "and" else " "
        return {
            "valid": True,
            "terms": terms,
            "indexed_terms": present,
            "explanation": op.join(f"text:{t}" for t in terms).strip(),
        }

    def agg_filters(
        self,
        query: str,
        field_values: DataFrame,
        filters: dict[str, str],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES filters-aggregation analogue: named predicate buckets over
        the hit set — ``filters`` maps bucket name -> SQL predicate over
        ``field_values`` columns; docs may land in several buckets.
        Single-pass plan: one conditional-sum aggregate row (map-side
        combine, no per-bucket scan), unpivoted to ``(filter_key,
        doc_count)`` rows with ``stack``."""
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("doc_id", "url")
        j = hits.join(dm, "doc_id").join(field_values, "url")
        names = sorted(filters)
        aggs = [
            F.sum(F.when(F.expr(filters[n]), 1).otherwise(0))
            .cast("long").alias(f"_b{i}")
            for i, n in enumerate(names)
        ]
        stack = ", ".join(f"'{n}', _b{i}" for i, n in enumerate(names))
        return (
            j.agg(*aggs)
            .selectExpr(f"stack({len(names)}, {stack}) AS (filter_key, doc_count)")
            .orderBy("filter_key")
        )

    def agg_extended_stats(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES extended_stats-aggregation analogue: the ``agg_stats`` row
        plus sum_of_squares, variance and std_deviation (population
        variance, ES's default). Same single partial-aggregate plan —
        the extra moments are one more map-side column each.

        Portability contract: sum and sum-of-squares accumulate as exact
        int64 (the field is integral), and the derived doubles are
        spelled as the one expression shape ``sq/n − (s/n)·(s/n)`` so an
        oracle computing the identical IEEE ops bit-matches before the
        4dp rounding (same discipline as the BM25 score oracles)."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        c = F.col(field)
        base = j.agg(
            F.count(field).alias("n_docs_agg"),
            F.min(field).alias("min_v"),
            F.max(field).alias("max_v"),
            F.sum(field).cast("long").alias("sum_v"),
            F.sum(c * c).cast("long").alias("sum_sq"),
        )
        mean = "(CAST(sum_v AS DOUBLE) / n_docs_agg)"
        var = f"(CAST(sum_sq AS DOUBLE) / n_docs_agg - {mean} * {mean})"
        return base.selectExpr(
            "n_docs_agg", "min_v", "max_v", "sum_v", "sum_sq",
            f"round({mean}, 4) AS avg_v",
            f"round({var}, 4) AS variance",
            f"round(sqrt({var}), 4) AS std_dev",
        )

    def agg_weighted_avg(
        self,
        query: str,
        field_values: DataFrame,
        value_field: str,
        weight_field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES weighted_avg-aggregation analogue: one row ``(sum_w,
        weighted_avg)`` — Σ(value·weight)/Σ(weight) over the hit set.
        Both sums accumulate as exact int64 (integral fields), so the
        single double division is engine-portable before rounding."""
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("doc_id", "url")
        j = hits.join(dm, "doc_id").join(
            field_values.select("url", value_field, weight_field), "url"
        )
        base = j.agg(
            F.sum(F.col(value_field) * F.col(weight_field))
            .cast("long").alias("sum_vw"),
            F.sum(weight_field).cast("long").alias("sum_w"),
        )
        return base.selectExpr(
            "sum_w",
            "round(CAST(sum_vw AS DOUBLE) / sum_w, 4) AS weighted_avg",
        )

    def agg_value_count(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES value_count + missing aggregations in one row:
        ``(value_count, missing_count)`` — hits with a non-null ``field``
        vs hits where it is null (the ``missing`` agg counts docs the
        value_count skips; together they partition the hit set)."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        return j.agg(
            F.count(field).alias("value_count"),
            (F.count(F.lit(1)) - F.count(field)).alias("missing_count"),
        )

    def agg_rare_terms(
        self,
        query: str,
        field_values: DataFrame | None,
        field: str,
        max_doc_count: int = 1,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES rare_terms aggregation: the LONG-TAIL inverse of terms —
        buckets whose doc_count is ≤ ``max_doc_count``, ordered count
        asc then value asc. ES approximates with a CuckooFilter to
        bound memory; this implementation is exact — the aggregate is
        the same tiny (#distinct-values)-row relation facet_terms
        builds, and the rarity filter is a post-aggregation predicate
        Catalyst keeps in the same stage, so exactness costs nothing
        extra at any corpus size."""
        j = self._hit_fields(
            query, field_values, field, mode=mode,
            min_should_match=min_should_match, must_not=must_not,
        )
        return (
            j.groupBy(field)
            .agg(F.count("*").alias("doc_count"))
            .filter(F.col("doc_count") <= int(max_doc_count))
            .orderBy(F.col("doc_count").asc(), F.col(field).asc())
        )

    def agg_multi_terms(
        self,
        query: str,
        field_values: DataFrame | None,
        fields: list[str],
        size: int = 10,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES multi_terms aggregation: terms buckets keyed on the
        COMPOUND value of several fields (the ES answer to "group by
        two columns"), top ``size`` by doc_count desc then the key
        fields asc. Plan identical to facet_terms — one hash aggregate
        keyed on the field tuple; compound keys add no extra shuffle.

        With ``field_values=None`` every field must be stored in the
        docmap (the doc-values path: one dense-id join)."""
        if len(fields) < 2:
            raise ValueError("multi_terms needs >= 2 fields (use facet_terms)")
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        if field_values is None:
            missing = [f for f in fields if f not in dm.columns]
            if missing:
                raise ValueError(
                    f"fields {missing} not stored in this index's docmap; "
                    "build with store_fields=(...) or pass field_values"
                )
            j = hits.join(dm.select("doc_id", *fields), "doc_id")
        else:
            j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
                field_values.select("url", *fields), "url"
            )
        return (
            j.groupBy(*fields)
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), *[F.col(f).asc() for f in fields])
            .limit(int(size))
        )

    def agg_adjacency_matrix(
        self,
        query: str,
        field_values: DataFrame,
        filters: dict[str, str],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES adjacency_matrix aggregation: named predicate buckets PLUS
        every pairwise intersection — bucket ``a&b`` counts docs
        matching both predicates (ES key syntax). Zero-doc buckets are
        omitted, exactly as ES omits them.

        Single-pass plan like agg_filters: one conditional-sum
        aggregate row covering all names and pairs (O(n²) COLUMNS, not
        rows or passes — ES caps n at 100 for the same quadratic
        reason), unpivoted with stack. The hit-set scan happens once
        regardless of filter count."""
        if len(filters) > 50:
            raise ValueError(
                "adjacency_matrix is quadratic in filter count; "
                f"{len(filters)} > 50 (ES caps at 100)"
            )
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("doc_id", "url")
        j = hits.join(dm, "doc_id").join(field_values, "url")
        names = sorted(filters)
        keys, conds = [], []
        for i, n in enumerate(names):
            keys.append(n)
            conds.append(F.expr(filters[n]))
            for m in names[i + 1:]:
                keys.append(f"{n}&{m}")
                conds.append(F.expr(filters[n]) & F.expr(filters[m]))
        aggs = [
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"_b{i}")
            for i, c in enumerate(conds)
        ]
        stack = ", ".join(
            f"'{k}', _b{i}" for i, k in enumerate(keys)
        )
        return (
            j.agg(*aggs)
            .selectExpr(f"stack({len(keys)}, {stack}) AS (key, doc_count)")
            .filter(F.col("doc_count") > 0)
            .orderBy("key")
        )

    def agg_top_metrics(
        self,
        query: str,
        field_values: DataFrame | None,
        sort_field: str,
        metric_field: str,
        size: int = 1,
        sort: str = "desc",
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES top_metrics aggregation: the metric value(s) carried by the
        ``size`` hit-set docs with the largest (``sort="desc"``) or
        smallest sort-field value — "what was X on the row where Y
        peaked". Ties break on url asc (ES picks arbitrarily; this is
        deterministic). Plan: hit fields → TakeOrderedAndProject — the
        limit rides the sort, no full-sort shuffle at any corpus size."""
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        cols = [sort_field, metric_field]
        if field_values is None:
            missing = [f for f in cols if f not in dm.columns]
            if missing:
                raise ValueError(
                    f"fields {missing} not stored in this index's docmap; "
                    "build with store_fields=(...) or pass field_values"
                )
            j = hits.join(dm.select("doc_id", "url", *cols), "doc_id")
        else:
            j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
                field_values.select("url", *cols), "url"
            )
        key = F.col(sort_field).desc() if sort == "desc" else F.col(sort_field).asc()
        return (
            j.orderBy(key, F.col("url").asc())
            .select(
                F.col("url"),
                F.col(sort_field).alias("sort_value"),
                F.col(metric_field).alias("metric_value"),
            )
            .limit(int(size))
        )

    def terms_enum(self, prefix: str, size: int = 10) -> DataFrame:
        """ES ``_terms_enum`` API: index-dictionary terms starting with
        ``prefix``, term-ordered, with their doc frequencies — served
        straight from the term_stats relation (a dictionary scan; no
        postings are touched). Like ES, the df reflects the built index:
        pending tombstones don't lower it until merge. At scale the
        prefix predicate pushes into the parquet scan and the top-``size``
        rides a TakeOrdered, so cost is O(matching dictionary rows)."""
        return (
            self.term_stats.filter(F.col("term").startswith(prefix))
            .select("term", F.col("df").cast("long").alias("doc_count"))
            .orderBy("term")
            .limit(int(size))
        )

    def matrix_stats(
        self,
        query: str,
        field_values: DataFrame,
        fields: list[str],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES matrix_stats aggregation over the filter-context hit set:
        one row per ordered field pair ``(field_x, field_y)`` carrying
        the hit count, mean of x, the POPULATION covariance, and the
        correlation; diagonal rows (x == x) give each field's variance.

        Every moment composes from power sums (Σx, Σx², Σxy) gathered in
        ONE hash aggregation over the hit-joined field relation — no
        sample-bias variants, so any engine reproduces the numbers; the
        pair expansion is a union of selects over the single tiny agg
        row, never a second pass over the data."""
        from functools import reduce as _reduce

        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", *fields), "url"
        )
        aggs = [F.count(F.lit(1)).cast("long").alias("n")]
        for fx in fields:
            x = F.col(fx).cast("double")
            aggs.append(F.sum(x).alias(f"s1_{fx}"))
        for fx in fields:
            for fy in fields:
                x = F.col(fx).cast("double")
                y = F.col(fy).cast("double")
                aggs.append(F.sum(x * y).alias(f"sxy_{fx}_{fy}"))
        row = j.agg(*aggs)
        outs = []
        for fx in fields:
            for fy in fields:
                n = F.col("n").cast("double")
                mx = F.col(f"s1_{fx}") / n
                my = F.col(f"s1_{fy}") / n
                cov = F.col(f"sxy_{fx}_{fy}") / n - mx * my
                vx = F.col(f"sxy_{fx}_{fx}") / n - mx * mx
                vy = F.col(f"sxy_{fy}_{fy}") / n - my * my
                outs.append(
                    row.select(
                        F.lit(fx).alias("field_x"),
                        F.lit(fy).alias("field_y"),
                        F.col("n"),
                        mx.alias("mean_x"),
                        cov.alias("covariance"),
                        (cov / F.sqrt(vx * vy)).alias("correlation"),
                    )
                )
        return _reduce(lambda a, b: a.unionByName(b), outs).orderBy(
            "field_x", "field_y"
        )

    def terms_set_topk(
        self,
        query: str,
        field_values: DataFrame,
        m_field: str,
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES terms_set query: bool.should over the query terms where the
        minimum_should_match comes from a PER-DOCUMENT field
        (``minimum_should_match_field``) — doc d matches iff it contains
        >= m(d) of the terms; survivors keep their OR-mode BM25 scores
        (global min_should_match is the constant-m special case, served
        by ``topk(min_should_match=...)``).

        Plan: pruned postings scan → per-doc (distinct-match count, BM25
        score) in ONE hash aggregation → dense-id docmap join to the m
        field → filter → TakeOrdered. The m relation joins url-keyed
        like every field relation; no driver collect anywhere."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms = sorted(set(tokenize_py(query)))
        empty = "doc_id long, url string, score double"
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            return spark.createDataFrame([], empty)
        ts = self.term_stats.filter(F.col("term").isin(qterms)).collect()
        weights = {r["term"]: idf(self.n_docs, int(r["df"])) for r in ts}
        if not weights:
            return spark.createDataFrame([], empty)
        # r6: one seg-cogroup computes (score, matched) per doc — the old
        # postings ⨝ dl_rows doc_id-shuffle join + hash aggregation
        # (3 Exchanges) is gone (guide §2.4, same kernel family as
        # relational_scores). matched = posting rows per doc, which IS
        # count_distinct(term): a doc appears at most once per term (one
        # epoch owns a doc, one merged segment row per (term, seg, shard)).
        avgdl, codec = self.avgdl, self.codec
        wmap = {t: float(w) for t, w in weights.items()}

        def score_range(key, pdf, dpdf):
            if len(pdf) == 0:
                return pd.DataFrame(
                    {"doc_id": pd.Series(dtype=np.int64),
                     "score": pd.Series(dtype=np.float64),
                     "_matched": pd.Series(dtype=np.int64)}
                )
            dl_base, dl_arr = _range_dls(key, dpdf)
            rows = pdf.to_dict("records")
            rows.sort(key=lambda r: r["term"])
            ids_l, con_l = [], []
            for r in rows:
                ids, tfs = decode_segment(r, codec)
                w = wmap[r["term"]]
                tf = tfs.astype(np.float64)
                dl = _gather_dls(ids, dl_base, dl_arr).astype(np.float64)
                con = (w * tf) * (K1 + 1.0) / (
                    tf + K1 * ((1.0 - B) + (B * dl) / avgdl)
                )
                ids_l.append(ids)
                con_l.append(con)
            ids_all = np.concatenate(ids_l)
            con_all = np.concatenate(con_l)
            order = np.argsort(ids_all, kind="stable")
            ids_s = ids_all[order]
            con_s = con_all[order]
            starts = np.flatnonzero(
                np.concatenate([[True], ids_s[1:] != ids_s[:-1]])
            )
            uids = ids_s[starts]
            scores = np.add.reduceat(con_s, starts)
            matched = np.diff(np.append(starts, ids_s.size))
            return pd.DataFrame(
                {"doc_id": uids, "score": scores, "_matched": matched}
            )

        scored = self._score_cogroup(
            list(weights), score_range,
            "doc_id long, score double, _matched long",
        )
        if self.persistent_excluded:
            scored = scored.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        dm = spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        out = (
            scored.join(dm.select("doc_id", "url"), "doc_id")
            .join(field_values.select("url", m_field), "url")
            .filter(F.col("_matched") >= F.col(m_field))
        )
        score = (
            F.round(F.col("score"), round_to) if round_to is not None
            else F.col("score")
        )
        cols = ["doc_id", "url", score.alias("score")] if with_url else [
            "doc_id", score.alias("score")
        ]
        return (
            out.select(*cols)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def constant_score_topk(
        self, query: str, boost: float = 1.0, k: int = 10, mode: str = "or",
        min_should_match: int | None = None, must_not: str | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES constant_score query: filter-context matching — every
        matching live doc scores exactly ``boost`` (no BM25, no idf, so
        the filter is cacheable in ES; here it is the no-decode
        matching_doc_ids scan). Equal scores make ES's order arbitrary;
        the deterministic choice at the k cut is doc id asc, or url asc
        with ``with_url`` (url is stable across index builds, internal
        ids are not)."""
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        if with_url:
            dm = self.spark.read.parquet(
                os.path.join(self.index_dir, "docmap")
            )
            return (
                hits.join(dm.select("doc_id", "url"), "doc_id")
                .select("doc_id", "url", F.lit(float(boost)).alias("score"))
                .orderBy("url")
                .limit(int(k))
            )
        return (
            hits.select("doc_id", F.lit(float(boost)).alias("score"))
            .orderBy("doc_id")
            .limit(int(k))
        )

    def span_or_topk(
        self,
        terms: list[str],
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES span_or query over span_term clauses: a doc matches when ANY
        clause's term occurs, and Lucene's SpanOrQuery scores it with ONE
        combined SimScorer — sloppy freq = total matching spans in the doc
        (for single-term clauses exactly tf_a + tf_b + …) and idf = the SUM
        of the clause terms' idfs (SpanWeight.buildSimWeight collects every
        clause's TermStatistics into one Similarity.scorer). That is NOT
        the BooleanQuery OR score (which saturates each term's tf
        separately); a doc with 5×'data' + 5×'query' scores like 10
        occurrences of one pseudo-term. Terms absent from the index
        contribute no idf (their TermStates carry docFreq 0).

        Plan: posting segments of the clause terms only (bucket-pruned
        scan), decode to (doc_id, term, tf) rows, ONE hash aggregation to
        tf totals, dl joined from the same segments' range_dls, TakeOrdered
        for the k cut — cost O(postings of the clause terms), no corpus
        scan, no positions relation needed (single-term spans never
        overlap, so span freq is exactly the postings tf sum)."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        toks: list[str] = []
        for t in terms:
            a = tokenize_py(t)
            if len(a) != 1:
                raise ValueError(
                    f"span_or clauses must each analyze to one term (got "
                    f"{t!r} -> {a})"
                )
            toks.append(a[0])
        toks = sorted(set(toks))
        empty = (
            "doc_id long, url string, score double" if with_url
            else "doc_id long, score double"
        )
        if len(toks) < 1 or self.n_docs == 0 or self.avgdl == 0:
            return spark.createDataFrame([], empty)
        ts = self.term_stats.filter(F.col("term").isin(toks)).collect()
        w = sum(idf(self.n_docs, int(r["df"])) for r in ts)
        if not ts:
            return spark.createDataFrame([], empty)
        # r6: one seg-cogroup pools the span freq (Σ tf over the clause
        # terms, exact int64) and scores per doc in numpy — the old
        # tf-aggregate ⨝ dl_rows doc_id-shuffle chain (3 Exchanges) is
        # gone (guide §2.4). Arithmetic mirrors _bm25_contrib_col
        # op-for-op with the combined clause weight.
        avgdl, codec = self.avgdl, self.codec
        wf = float(w)

        def score_range(key, pdf, dpdf):
            if len(pdf) == 0:
                return _empty_scores()
            dl_base, dl_arr = _range_dls(key, dpdf)
            ids_l, tf_l = [], []
            for r in pdf.to_dict("records"):
                ids, tfs = decode_segment(r, codec)
                ids_l.append(ids)
                tf_l.append(tfs.astype(np.int64))
            ids_all = np.concatenate(ids_l)
            tf_all = np.concatenate(tf_l)
            order = np.argsort(ids_all, kind="stable")
            ids_s = ids_all[order]
            tf_s = tf_all[order]
            starts = np.flatnonzero(
                np.concatenate([[True], ids_s[1:] != ids_s[:-1]])
            )
            uids = ids_s[starts]
            tfp = np.add.reduceat(tf_s, starts).astype(np.float64)
            dl = _gather_dls(uids, dl_base, dl_arr).astype(np.float64)
            sc = (wf * tfp) * (K1 + 1.0) / (
                tfp + K1 * ((1.0 - B) + (B * dl) / avgdl)
            )
            return pd.DataFrame({"doc_id": uids, "score": sc})

        out = self._score_cogroup(
            toks, score_range, "doc_id long, score double"
        )
        if self.persistent_excluded:
            out = out.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        score = F.col("score")
        if round_to is not None:
            score = F.round(score, round_to)
        cols = ["doc_id", "url"] if with_url else ["doc_id"]
        if with_url:
            dm = spark.read.parquet(
                os.path.join(self.index_dir, "docmap")
            ).select("doc_id", "url")
            out = out.join(dm, "doc_id")
        return (
            out.select(*cols, score.alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def agg_sampler(
        self,
        query: str,
        field_values: DataFrame | None,
        field: str,
        shard_size: int = 100,
        dedup_field: str | None = None,
        max_docs_per_value: int = 1,
        fetch_k: int | None = None,
        mode: str = "or",
    ) -> DataFrame:
        """ES sampler / diversified_sampler aggregation: run the metric
        sub-agg (count/avg/min/max of ``field``) over only the
        ``shard_size`` BEST-SCORING hits instead of the whole hit set —
        the cheap-preview pattern for expensive sub-aggs. With
        ``dedup_field`` it is the diversified_sampler: at most
        ``max_docs_per_value`` docs per dedup value enter the sample
        (best-scoring ones win), de-biasing a dominant key.

        Determinism: candidates order by (rounded score desc, url asc) —
        url, not internal doc id, so the choice is reproducible across
        index builds. Plain sampler: WAND top-k candidates (``fetch_k``,
        default 3×shard_size, must cover the tie group at the cut — the
        topk contract). Diversified: a dominant value can fill ANY
        truncated top, so candidates are ALL scored hits
        (relational_scores — one pruned postings aggregation, the ES
        shard-local streaming dedup equivalent; OR-mode only, like ES);
        the per-value window partitions by the dedup value, so no
        single-partition sort ever sees the full hit set. Either way the
        sub-agg runs over <= shard_size rows."""
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        cols = [field] + ([dedup_field] if dedup_field else [])
        if dedup_field:
            if mode != "or":
                raise ValueError(
                    "diversified_sampler streams the OR-mode hit set "
                    "(ES semantics); mode='and' is not supported"
                )
            top = (
                self.relational_scores(query)
                .withColumn("score", F.round("score", 4))
                .join(dm.select("doc_id", "url"), "doc_id")
            )
        else:
            top = self.topk(
                query, k=fetch_k or 3 * int(shard_size), round_to=4,
                with_url=True, fetch_k=fetch_k or 3 * int(shard_size),
                mode=mode,
            )
        if field_values is None:
            missing = [c for c in cols if c not in dm.columns]
            if missing:
                raise ValueError(
                    f"fields {missing} not stored in this index's docmap; "
                    "build with store_fields=(...) or pass field_values"
                )
            j = top.join(dm.select("url", *cols), "url")
        else:
            j = top.join(field_values.select("url", *cols), "url")
        if dedup_field:
            wd = Window.partitionBy(dedup_field).orderBy(
                F.col("score").desc(), F.col("url").asc()
            )
            j = (
                j.withColumn("_rn", F.row_number().over(wd))
                .filter(F.col("_rn") <= int(max_docs_per_value))
                .drop("_rn")
            )
        # top shard_size of the de-biased candidates: TakeOrdered, not a
        # global row_number window — with a high-cardinality dedup field
        # the per-value cap still leaves ~n_values rows, and a single
        # unpartitioned WindowExec would pull them all through one task
        sample = j.orderBy(
            F.col("score").desc(), F.col("url").asc()
        ).limit(int(shard_size))
        x = F.col(field).cast("double")
        return sample.agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.round(F.avg(x), 4).alias("avg_value"),
            F.min(x).alias("min_value"),
            F.max(x).alias("max_value"),
        )

    def synonym_topk(
        self,
        query: str,
        synonyms: dict[str, list[str]],
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES query-time synonyms (match through a synonym_graph filter →
        Lucene SynonymQuery): each query term and its synonyms score as
        ONE pseudo-term — tf = Σ tf over the group's members present in
        the doc, idf from the group's MAX member df (the SynonymQuery /
        BlendedTermQuery convention: a group is one concept, the
        commonest member sets its rarity). Scores therefore never exceed
        a single-term match's saturation — synonyms widen recall without
        double-counting the concept.

        Plan: one pruned postings scan over all member terms →
        (doc, group) tf roll-up and the BM25 sum in two hash
        aggregations; group map and idf weights broadcast (queries are
        small). Pending tombstones excluded as everywhere."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms = sorted(set(tokenize_py(query)))
        empty = "doc_id long, url string, score double" if with_url else (
            "doc_id long, score double"
        )
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            return spark.createDataFrame([], empty)
        groups = {t: sorted({t} | set(synonyms.get(t, ()))) for t in qterms}
        all_terms = sorted({m for ms in groups.values() for m in ms})
        ts = {
            r["term"]: int(r["df"])
            for r in self.term_stats.filter(
                F.col("term").isin(all_terms)
            ).collect()
        }
        weights = {}
        for g, ms in groups.items():
            dfs = [ts[m] for m in ms if m in ts]
            if dfs:
                weights[g] = idf(self.n_docs, max(dfs))
        if not weights:
            return spark.createDataFrame([], empty)
        member_rows = sorted(
            (m, g)
            for g, ms in groups.items()
            if g in weights
            for m in ms
            if m in ts
        )
        # r6: one seg-cogroup does the whole group roll-up in numpy — pool
        # tf per (doc, group) (exact int64 lexsort + reduceat), one BM25
        # contribution per (doc, group) with the group's blended weight,
        # sum per doc in group-lex order. The old chain (postings ⨝ gmap →
        # (doc, grp) hash agg → ⨝ dl_rows → ⨝ w_df → doc hash agg) paid
        # THREE doc_id/grp-keyed Exchanges for data already co-organized
        # by doc range (guide §2.4). Per-group arithmetic mirrors
        # _bm25_contrib_col op-for-op; the per-doc sum order is now
        # deterministic (group-lex) where the hash aggregate's was not.
        grp_names = sorted(weights)
        gidx = {g: i for i, g in enumerate(grp_names)}
        warr_py = [float(weights[g]) for g in grp_names]
        # a term may belong to several groups ({"join": ["merge"]} with
        # "merge" also queried): its postings count once in EACH group
        term2g: dict[str, list[int]] = {}
        for m, g in member_rows:
            term2g.setdefault(m, []).append(gidx[g])
        avgdl, codec = self.avgdl, self.codec

        def score_range(key, pdf, dpdf):
            if len(pdf) == 0:
                return _empty_scores()
            dl_base, dl_arr = _range_dls(key, dpdf)
            warr = np.asarray(warr_py, dtype=np.float64)
            ids_l, tf_l, g_l = [], [], []
            for r in pdf.to_dict("records"):
                gs = term2g.get(r["term"])
                if gs is None:  # not a member term (defensive; segs pruned)
                    continue
                ids, tfs = decode_segment(r, codec)
                for g in gs:
                    ids_l.append(ids)
                    tf_l.append(tfs.astype(np.int64))
                    g_l.append(np.full(ids.size, g, dtype=np.int64))
            if not ids_l:
                return _empty_scores()
            ids_all = np.concatenate(ids_l)
            tf_all = np.concatenate(tf_l)
            g_all = np.concatenate(g_l)
            order = np.lexsort((g_all, ids_all))
            ids_s, tf_s, g_s = ids_all[order], tf_all[order], g_all[order]
            pstarts = np.flatnonzero(
                np.concatenate(
                    [[True],
                     (ids_s[1:] != ids_s[:-1]) | (g_s[1:] != g_s[:-1])]
                )
            )
            p_ids = ids_s[pstarts]
            p_g = g_s[pstarts]
            p_tf = np.add.reduceat(tf_s, pstarts).astype(np.float64)
            dl = _gather_dls(p_ids, dl_base, dl_arr).astype(np.float64)
            wv = warr[p_g]
            con = (wv * p_tf) * (K1 + 1.0) / (
                p_tf + K1 * ((1.0 - B) + (B * dl) / avgdl)
            )
            dstarts = np.flatnonzero(
                np.concatenate([[True], p_ids[1:] != p_ids[:-1]])
            )
            uids = p_ids[dstarts]
            scores = np.add.reduceat(con, dstarts)
            return pd.DataFrame({"doc_id": uids, "score": scores})

        out = self._score_cogroup(
            sorted({m for m, _ in member_rows}), score_range,
            "doc_id long, score double",
        )
        if self.persistent_excluded:
            out = out.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        score = (
            F.round(F.col("score"), round_to) if round_to is not None
            else F.col("score")
        )
        if with_url:
            dm = self.spark.read.parquet(
                os.path.join(self.index_dir, "docmap")
            )
            out = out.join(dm.select("doc_id", "url"), "doc_id")
            cols = ["doc_id", "url", score.alias("score")]
        else:
            cols = ["doc_id", score.alias("score")]
        return (
            out.select(*cols)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def feature_boost_topk(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        kind: str = "saturation",
        pivot: float = 1.0,
        boost: float = 1.0,
        origin: float = 0.0,
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
        mode: str = "or",
    ) -> DataFrame:
        """ES rank_feature / distance_feature queries: a bool.should
        clause that ADDS a bounded feature-derived term to the BM25 sum —
        ``kind='saturation'`` (rank_feature default) adds
        ``boost · x/(x + pivot)``; ``kind='distance'`` (distance_feature)
        adds ``boost · pivot/(pivot + |x − origin|)``. Both terms are
        bounded by ``boost``, so they re-rank within relevance ties
        rather than swamping text relevance — exactly why ES recommends
        them over multiplicative function_score for popularity/recency/
        proximity signals (function_score_topk covers the multiplicative
        family).

        Plan: relational BM25 scores (pruned postings scan, one hash
        agg) → dense-id docmap join → url-keyed field join → one Column
        expression → TakeOrdered. The feature join touches only hit
        rows."""
        scores = self.relational_scores(query)
        if mode == "and":
            need = self.matching_doc_ids(query, mode="and")
            scores = scores.join(need, "doc_id", "left_semi")
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = scores.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", field), "url"
        )
        x = F.col(field).cast("double")
        if kind == "saturation":
            extra = F.lit(float(boost)) * x / (x + F.lit(float(pivot)))
        elif kind == "distance":
            extra = (
                F.lit(float(boost))
                * F.lit(float(pivot))
                / (F.lit(float(pivot)) + F.abs(x - F.lit(float(origin))))
            )
        else:
            raise ValueError(f"unknown feature kind {kind!r}")
        total = F.col("score") + extra
        score = F.round(total, round_to) if round_to is not None else total
        cols = ["doc_id", "url", score.alias("score")] if with_url else [
            "doc_id", score.alias("score")
        ]
        return (
            j.select(*cols)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def pinned_topk(
        self,
        query: str,
        pinned_urls: list[str],
        k: int = 10,
        round_to: int | None = 4,
        mode: str = "or",
    ) -> DataFrame:
        """ES pinned query: the given docs rank FIRST in the given order
        (position i scores the Lucene pin constant 1.7e308/2 minus i in
        spirit — here rank-encoded as ``1e9 − i``, far above any BM25
        score), organic hits follow with their normal scores; a pinned
        doc never appears twice. Pins are ids by definition (a curated
        list), so the broadcast side is tiny.

        Plan: the organic top-k path unchanged (WAND over the index) ⟕
        an anti-join against the pin list + a tiny union. Cost = one
        topk + |pins| lookups."""
        pins = [(u, float(1e9 - i)) for i, u in enumerate(pinned_urls)]
        spark = self.spark
        pin_df = spark.createDataFrame(pins, "url string, score double")
        dm = spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        pin_rows = pin_df.join(dm.select("doc_id", "url"), "url")
        if self.persistent_excluded:
            pin_rows = pin_rows.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        organic = self.topk(
            query, k=int(k) + len(pins), round_to=round_to,
            fetch_k=3 * (int(k) + len(pins)), with_url=True, mode=mode,
        ).join(F.broadcast(pin_df.select("url")), "url", "left_anti")
        return (
            pin_rows.select("doc_id", "url", "score")
            .unionByName(organic.select("doc_id", "url", "score"))
            .orderBy(F.col("score").desc(), F.col("url").asc())
            .limit(int(k))
        )

    def geo_bounding_box(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        top: float,
        left: float,
        bottom: float,
        right: float,
        k: int = 100,
        mode: str = "or",
    ) -> DataFrame:
        """ES geo_bounding_box query (filter context over a geo_point):
        hit docs whose (lat, lon) falls inside the box. A geo_point on
        Spark is two double columns, so the box is four pushable
        comparisons; a box crossing the ANTIMERIDIAN (left > right) is
        the OR of the two lon half-ranges, exactly ES's wrap semantics.
        Deterministic url-ordered k cut (equal membership has no
        natural order)."""
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", lat_field, lon_field), "url"
        )
        lat, lon = F.col(lat_field), F.col(lon_field)
        cond = (lat <= F.lit(float(top))) & (lat >= F.lit(float(bottom)))
        if left <= right:
            cond = cond & (lon >= F.lit(float(left))) & (
                lon <= F.lit(float(right))
            )
        else:  # antimeridian crossing
            cond = cond & (
                (lon >= F.lit(float(left))) | (lon <= F.lit(float(right)))
            )
        return (
            j.filter(cond)
            .select(
                "doc_id", "url",
                lat.cast("double").alias("lat"),
                lon.cast("double").alias("lon"),
            )
            .orderBy("url")
            .limit(int(k))
        )

    def geo_centroid(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES geo_centroid aggregation: arithmetic mean of the hit set's
        coordinates — one aggregate row (doc_count, lat, lon). ES
        accumulates on the flat projection for geo_points (no spherical
        weighting); identical here. One hash aggregation over the
        hit-joined field relation."""
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", lat_field, lon_field), "url"
        )
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.round(F.avg(F.col(lat_field).cast("double")), round_to).alias(
                "lat"
            ),
            F.round(F.avg(F.col(lon_field).cast("double")), round_to).alias(
                "lon"
            ),
        )

    def nested_topk(
        self,
        query: str,
        field_values: DataFrame,
        nested_col: str,
        predicate: str,
        k: int = 10,
        mode: str = "or",
        min_matches: int = 1,
    ) -> DataFrame:
        """ES nested query (score_mode=sum over constant-score inner hits):
        hit docs where at least ``min_matches`` elements of the
        ``array<struct>`` column satisfy ``predicate`` — a SQL boolean over
        the element bound as ``x`` (e.g. ``"x.kind = 'a' AND x.size >=
        70"``). The predicate applies PER ELEMENT, the nested-vs-flattened
        distinction ES's nested type exists for: a doc whose one element
        has kind='a' and another has size>=70 does NOT match. Score = the
        matching-element count (sum of 1.0 per inner hit).

        Plan: ``size(filter(arr, x -> pred))`` is a single in-row JVM
        higher-order function — the nested evaluation adds NO shuffle and
        no explode; only the hit-set join moves data. Contrast
        has_child_topk, where children are separate rows and a count
        aggregation is unavoidable."""
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        matched = F.expr(
            f"size(filter({nested_col}, x -> ({predicate})))"
        ).cast("long")
        out = (
            hits.join(dm.select("doc_id", "url"), "doc_id")
            .join(field_values, "url")
            .select("doc_id", "url", matched.alias("score"))
            .filter(F.col("score") >= int(min_matches))
        )
        if self.persistent_excluded:
            out = out.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        return out.orderBy(
            F.col("score").desc(), F.col("url").asc()
        ).limit(int(k))

    def nested_terms_reverse_nested(
        self,
        query: str,
        field_values: DataFrame,
        nested_col: str,
        key_expr: str,
        size: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """ES ``nested`` agg + ``terms`` + ``reverse_nested``: bucket the
        hit docs' nested elements by ``key_expr`` (SQL over the element
        bound as ``x``), reporting per bucket BOTH document contexts —
        ``doc_count`` = nested elements in the bucket (the nested agg's
        context) and ``parent_count`` = distinct ROOT docs owning >= 1
        such element (the reverse_nested jump back up). Buckets rank
        element count desc then key asc, top ``size``.

        Plan: the hit set joins the nested relation, ONE in-row explode
        (Generate — no shuffle), then one hash aggregation computing
        count + approx-free count(DISTINCT url) together; the distinct
        rides the same aggregate, bounded by #buckets × #parents."""
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        base = (
            hits.join(dm.select("doc_id", "url"), "doc_id")
            .join(field_values, "url")
            .select("url", F.explode(nested_col).alias("x"))
            .select("url", F.expr(key_expr).alias("key"))
        )
        return (
            base.groupBy("key")
            .agg(
                F.count(F.lit(1)).cast("long").alias("doc_count"),
                F.countDistinct("url").cast("long").alias("parent_count"),
            )
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(int(size))
        )

    def geo_distance(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        origin_lat: float,
        origin_lon: float,
        radius_km: float,
        k: int = 100,
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES geo_distance query + ``sort: _geo_distance``: hit docs whose
        point lies within ``radius_km`` of the origin, nearest first.
        Distance is the haversine arc (ES ``arc`` distance_type,
        GeoUtils mean earth radius ~6371 km; here R = 6371.0 so the SQL
        oracle states the identical closed form). The formula is pure
        Column arithmetic — sin/cos/asin on two pushable double columns —
        so the radius filter runs scan-side and the sort is a TakeOrdered
        over the filtered set, never a global sort. Rounded to ``round_to``
        so cross-engine libm ulps can't flip compares.

        Reference parity: ES geo_distance query + geo sort; the query-hit
        intersection mirrors geo_bounding_box above."""
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", lat_field, lon_field), "url"
        )
        rad = 3.141592653589793 / 180.0
        la1 = F.lit(float(origin_lat) * rad)
        lo1 = F.lit(float(origin_lon) * rad)
        la2 = F.col(lat_field).cast("double") * F.lit(rad)
        lo2 = F.col(lon_field).cast("double") * F.lit(rad)
        h = (
            F.pow(F.sin((la2 - la1) / F.lit(2.0)), 2)
            + F.cos(la1) * F.cos(la2)
            * F.pow(F.sin((lo2 - lo1) / F.lit(2.0)), 2)
        )
        dist = F.round(
            F.lit(2.0 * 6371.0) * F.asin(F.sqrt(h)), round_to
        ).alias("distance_km")
        return (
            j.select(
                "doc_id", "url",
                F.col(lat_field).cast("double").alias("lat"),
                F.col(lon_field).cast("double").alias("lon"),
                dist,
            )
            .filter(F.col("distance_km") <= F.lit(float(radius_km)))
            .orderBy(F.col("distance_km").asc(), F.col("url").asc())
            .limit(int(k))
        )

    def geotile_grid(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        zoom: int = 6,
        size: int = 20,
        mode: str = "or",
    ) -> DataFrame:
        """ES geotile_grid aggregation: bucket hit points into Web-Mercator
        map tiles at ``zoom``; keys are "z/x/y" strings, buckets ordered by
        doc_count desc then key asc, top ``size`` kept (ES's terms-like
        ordering). x is linear in lon; y uses the Mercator projection with
        ES's latitude clamp (±85.05112878). The tile fraction is rounded to
        9 decimals BEFORE floor on both engines, so a libm ulp on
        tan/ln can never flip a tile at a bucket boundary.

        One hash aggregation over the hit-joined points (≤ 4^zoom groups,
        partial map-side combine) → TakeOrdered(size). Scales as a plain
        distributed count-by-key."""
        n = float(1 << int(zoom))
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", lat_field, lon_field), "url"
        )
        rad = 3.141592653589793 / 180.0
        lat = F.least(
            F.lit(85.05112878),
            F.greatest(F.lit(-85.05112878), F.col(lat_field).cast("double")),
        )
        lon = F.col(lon_field).cast("double")
        xf = F.round((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n), 9)
        latr = lat * F.lit(rad)
        merc = F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr))
        yf = F.round(
            (F.lit(1.0) - merc / F.lit(3.141592653589793))
            / F.lit(2.0) * F.lit(n),
            9,
        )
        clamp = lambda c: F.least(  # noqa: E731 — tile index ∈ [0, 2^z-1]
            F.lit(int(n) - 1), F.greatest(F.lit(0), F.floor(c).cast("long"))
        )
        key = F.concat_ws(
            "/", F.lit(str(int(zoom))),
            clamp(xf).cast("string"), clamp(yf).cast("string"),
        )
        return (
            j.select(key.alias("key"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(int(size))
        )

    def geohash_grid(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        precision: int = 4,
        size: int = 20,
        mode: str = "or",
    ) -> DataFrame:
        """ES geohash_grid aggregation: bucket hit points into geohash
        cells at ``precision`` chars (1–6 here); buckets ordered by
        doc_count desc then key asc, top ``size`` (the terms-like cut,
        like geotile_grid above).

        A geohash is the base-32 rendering of bit-INTERLEAVED lon/lat
        quantizations (lon takes the even bit positions from the MSB —
        ceil(5p/2) lon bits, floor(5p/2) lat bits at precision p). The
        interleave is a fixed sum of (bit >> j) · 2^i terms, generated
        here as pure Column arithmetic — shiftright/&/× only, no UDF —
        so it runs scan-side in whole-stage codegen and the aggregation
        is a plain distributed count-by-key (≤ 32^p groups, map-side
        combine). Cell fractions round to 9 dp before floor, the same
        libm-ulp guard the Mercator tile math uses."""
        p = int(precision)
        if not 1 <= p <= 6:
            raise ValueError("geohash precision must be in [1, 6]")
        nbits = 5 * p
        lon_bits = (nbits + 1) // 2
        lat_bits = nbits // 2
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", lat_field, lon_field), "url"
        )
        clampc = lambda c, n: F.least(  # noqa: E731 — cell ∈ [0, 2^b-1]
            F.lit((1 << n) - 1),
            F.greatest(F.lit(0), F.floor(c).cast("long")),
        )
        lonq = clampc(
            F.round(
                (F.col(lon_field).cast("double") + F.lit(180.0))
                / F.lit(360.0) * F.lit(float(1 << lon_bits)),
                9,
            ),
            lon_bits,
        )
        latq = clampc(
            F.round(
                (F.col(lat_field).cast("double") + F.lit(90.0))
                / F.lit(180.0) * F.lit(float(1 << lat_bits)),
                9,
            ),
            lat_bits,
        )
        j = j.select(lonq.alias("_lon"), latq.alias("_lat"))
        # interleaved code: geohash bit i (MSB-first, even i ← lon)
        code = F.lit(0).cast("long")
        for i in range(nbits):
            src, blen, rank = (
                ("_lon", lon_bits, i // 2) if i % 2 == 0
                else ("_lat", lat_bits, i // 2)
            )
            bit = F.shiftright(F.col(src), blen - 1 - rank).bitwiseAND(
                F.lit(1)
            )
            code = code + bit * F.lit(1 << (nbits - 1 - i))
        alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
        key = F.concat(*[
            F.substring(
                F.lit(alpha),
                (
                    F.shiftright(
                        F.col("_code"), nbits - 5 * (m + 1)
                    ).bitwiseAND(F.lit(31)) + 1
                ).cast("int"),
                1,
            )
            for m in range(p)
        ])
        return (
            j.select(code.alias("_code"))
            .select(key.alias("key"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(int(size))
        )

    def geo_bounds(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES geo_bounds aggregation: the tightest non-wrapping envelope
        of the hit set's points — one row (doc_count, top, left, bottom,
        right) = (max lat, min lon, min lat, max lon). ES only emits a
        dateline-wrapped box for geo_shape fields with wrap_longitude;
        geo_point fields get exactly these four extrema. One hash
        aggregation with full map-side combine — four comparisons per
        row, no shuffle beyond the 1-row reduce."""
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", lat_field, lon_field), "url"
        )
        lat = F.col(lat_field).cast("double")
        lon = F.col(lon_field).cast("double")
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.round(F.max(lat), round_to).alias("top"),
            F.round(F.min(lon), round_to).alias("left"),
            F.round(F.min(lat), round_to).alias("bottom"),
            F.round(F.max(lon), round_to).alias("right"),
        )

    def geo_polygon(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        vertices: list[tuple[float, float]],
        k: int = 100,
        mode: str = "or",
    ) -> DataFrame:
        """ES geo_polygon query (filter context): hit docs whose point
        lies inside the closed polygon given as [(lat, lon), …] — the
        classic even-odd ray cast (PNPOLY): cast a ray in +lon and count
        edge crossings; odd ⇒ inside. Each edge test unrolls to one
        boolean Column — edge slopes are DRIVER-computed literals, so
        the per-row math is a compare + one multiply-add (horizontal
        edges can never straddle the ray and are skipped), all
        whole-stage codegen, pushable into the scan. Points exactly on
        an edge follow the ray convention (same on every engine — the
        arithmetic is identical IEEE ops). Deterministic url-ordered k
        cut like geo_bounding_box."""
        if len(vertices) < 3:
            raise ValueError("geo_polygon needs >= 3 vertices")
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", lat_field, lon_field), "url"
        )
        y = F.col(lat_field).cast("double")
        x = F.col(lon_field).cast("double")
        cnt = F.lit(0)
        vs = [(float(a), float(b)) for a, b in vertices]
        for (y1, x1), (y2, x2) in zip(vs, vs[1:] + vs[:1]):
            if y1 == y2:
                continue  # horizontal edge: straddle is impossible
            slope = (x2 - x1) / (y2 - y1)
            straddle = (F.lit(y1) > y) != (F.lit(y2) > y)
            xi = F.lit(slope) * (y - F.lit(y1)) + F.lit(x1)
            cnt = cnt + (straddle & (x < xi)).cast("int")
        return (
            j.filter(cnt % 2 == 1)
            .select(
                "doc_id", "url",
                y.alias("lat"), x.alias("lon"),
            )
            .orderBy("url")
            .limit(int(k))
        )

    def terms_lookup(
        self,
        lookup: DataFrame,
        lookup_id,
        k: int = 100,
        id_col: str = "id",
        terms_col: str = "terms",
        max_terms: int = 1024,
    ) -> DataFrame:
        """ES terms query with TERMS LOOKUP: the term list is fetched
        from another document's array field at query time (the
        follow-list/blocklist pattern — "docs matching any term stored
        on entity X"), then matched in filter context with constant
        score 1.0 (the ES terms-query rewrite), deterministic url-
        ordered cut.

        The lookup fetch is a 1-row pushed-down id probe (ES GETs the
        doc; 65,536-term cap — ``max_terms`` mirrors it and raises past
        the cap, because a million-term closure belongs in a JOIN
        against the lookup relation, not in a literal IN list)."""
        rows = (
            lookup.filter(F.col(id_col) == lookup_id)
            .select(terms_col)
            .collect()
        )
        if not rows:
            return self.spark.createDataFrame(
                [], "doc_id long, url string, score double"
            )
        terms = sorted({t for t in (rows[0][terms_col] or []) if t})
        if len(terms) > int(max_terms):
            raise ValueError(
                f"terms lookup fetched {len(terms)} terms > max_terms="
                f"{max_terms}; join against the lookup relation instead"
            )
        if not terms:
            return self.spark.createDataFrame(
                [], "doc_id long, url string, score double"
            )
        hits = self.matching_doc_ids(" ".join(terms), mode="or")
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        return (
            hits.join(dm.select("doc_id", "url"), "doc_id")
            .select("doc_id", "url", F.lit(1.0).alias("score"))
            .orderBy("url")
            .limit(int(k))
        )

    def geo_distance_rings(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        origin_lat: float,
        origin_lon: float,
        rings: list[tuple[float | None, float | None]],
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES geo_distance AGGREGATION: bucket hit docs into concentric
        distance rings around an origin — (ring_key, from inclusive, to
        exclusive, doc_count), every requested ring present even at 0,
        rings may overlap (each counts independently) — the range-agg
        contract applied to the haversine distance (same closed form as
        the geo_distance query; distance rounded to ``round_to`` before
        the ring test so bucket edges are engine-stable).

        Plan: the distance is scan-side Column arithmetic; bucketing is
        a conditional join against the broadcast tiny rings relation +
        one (n_rings)-row aggregate, then a left join back restores
        empty rings — identical cost shape to agg_ranges."""

        def _key(lo, hi):
            f = lambda v: "*" if v is None else format(float(v), "g")  # noqa: E731
            return f"{f(lo)}-{f(hi)}"

        rdf = self.spark.createDataFrame(
            [
                (_key(lo, hi),
                 None if lo is None else float(lo),
                 None if hi is None else float(hi))
                for lo, hi in rings
            ],
            "ring string, km_from double, km_to double",
        )
        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        j = hits.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", lat_field, lon_field), "url"
        )
        rad = 3.141592653589793 / 180.0
        la1 = F.lit(float(origin_lat) * rad)
        lo1 = F.lit(float(origin_lon) * rad)
        la2 = F.col(lat_field).cast("double") * F.lit(rad)
        lo2 = F.col(lon_field).cast("double") * F.lit(rad)
        h = (
            F.pow(F.sin((la2 - la1) / F.lit(2.0)), 2)
            + F.cos(la1) * F.cos(la2)
            * F.pow(F.sin((lo2 - lo1) / F.lit(2.0)), 2)
        )
        dist = F.round(F.lit(2.0 * 6371.0) * F.asin(F.sqrt(h)), round_to)
        d = j.select(dist.alias("_d"))
        cond = (
            (F.col("km_from").isNull() | (F.col("_d") >= F.col("km_from")))
            & (F.col("km_to").isNull() | (F.col("_d") < F.col("km_to")))
        )
        counts = (
            d.join(F.broadcast(rdf), cond)
            .groupBy("ring")
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        )
        return (
            rdf.join(counts, "ring", "left")
            .select(
                "ring", "km_from", "km_to",
                F.coalesce(F.col("doc_count"), F.lit(0)).cast("long")
                .alias("doc_count"),
            )
            .orderBy(F.col("km_from").asc_nulls_first())
        )

    def sayt_topk(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES search_as_you_type: like match_bool_prefix, but the
        trailing-prefix expansion resolves against the MATERIALIZED
        edge-ngram relation (``build_edge_ngrams``) with an EQUALITY
        lookup — the index-time form ES's search_as_you_type field
        implements with its ``._index_prefix`` subfield. At a 10⁹-term
        dictionary the difference is a pushed-down point predicate on a
        gram-sorted relation vs a LIKE range scan; past max_gram it
        falls back to the dictionary prefix scan, exactly ES's fallback
        to a plain prefix query. Expansion stays alphabetic-capped and
        deduplicated; scoring is the same BM25 OR as bool_prefix_topk."""
        import json

        from kafka_es_spark.functions.tokenize import tokenize_py

        toks = tokenize_py(query)
        if not toks:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        fixed, pre = toks[:-1], toks[-1]
        en_dir = os.path.join(self.index_dir, "edge_ngrams")
        meta_p = os.path.join(self.index_dir, "edge_ngrams_meta.json")
        if not (os.path.isdir(en_dir) and os.path.exists(meta_p)):
            raise ValueError(
                f"index at {self.index_dir} has no edge_ngrams/ relation — "
                "run build_edge_ngrams first (search_as_you_type is an "
                "index-time feature)"
            )
        with open(meta_p) as fh:
            meta = json.load(fh)
        if meta["min_gram"] <= len(pre) <= meta["max_gram"]:
            rel = (
                self.spark.read.parquet(en_dir)
                .filter(F.col("gram") == pre)
                .select("term")
            )
        else:  # ES falls back to a prefix query outside the gram range
            rel = self.term_stats.filter(
                F.col("term").startswith(pre)
            ).select("term")
        rows = rel.orderBy("term").limit(int(max_expansions)).collect()
        terms = sorted(set(fixed) | {r["term"] for r in rows})
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def bool_prefix_topk(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES match_bool_prefix query: every analyzed term except the
        last becomes a term ``should`` clause, and the LAST term matches
        as a prefix — the type-ahead query over a standard index (vs
        search_as_you_type's dedicated edge-ngram field, whose index-time
        expansion this replaces at query time). The prefix expands
        against the term dictionary to the first ``max_expansions``
        terms in alphabetic order (same deterministic rewrite as
        prefix_topk), the union is deduplicated, and the whole
        disjunction scores as plain BM25 OR through the block-max path
        (Lucene's scoring-boolean rewrite keeps it oracle-checkable).

        The dictionary probe is one pushed-down prefix scan over
        term_stats (term-sorted bucket files) collecting ≤ max_expansions
        rows; everything after is the standard pruned top-k plan."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        toks = tokenize_py(query)
        if not toks:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        fixed, pre = toks[:-1], toks[-1]
        rows = (
            self.term_stats.filter(F.col("term").startswith(pre))
            .select("term")
            .orderBy("term")
            .limit(int(max_expansions))
            .collect()
        )
        terms = sorted(set(fixed) | {r["term"] for r in rows})
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def has_child_topk(
        self,
        children: DataFrame,
        child_filter: str,
        parent_col: str = "parent_url",
        k: int = 10,
        min_children: int = 1,
    ) -> DataFrame:
        """ES has_child query (join field): live parent docs with >=
        ``min_children`` children matching the filter-context child
        predicate, scored by matching-child count — ES's score_mode over
        constant-score children (sum of 1.0 per child) IS the count;
        none/min/max/avg all collapse to it. ``children`` carries
        ``parent_col`` (the join-field parent routing key = the parent's
        url); ``child_filter`` is a SQL predicate over the child row.

        Plan: child predicate pushes into the child scan → ONE
        parent-keyed count aggregation (bounded by #parents with
        matches, not #children) → dense-id docmap join → TakeOrdered.
        No per-child shuffle beyond the one count agg; tombstoned
        parents drop like every query path."""
        matched = (
            children.filter(child_filter)
            .groupBy(F.col(parent_col).alias("url"))
            .agg(F.count(F.lit(1)).cast("long").alias("score"))
            .filter(F.col("score") >= int(min_children))
        )
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        out = matched.join(dm.select("doc_id", "url"), "url")
        if self.persistent_excluded:
            out = out.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        # url tiebreak, not internal doc id: urls are stable across index
        # builds, internal dense ids are not
        return (
            out.select("doc_id", "url", "score")
            .orderBy(F.col("score").desc(), F.col("url").asc())
            .limit(int(k))
        )

    def has_parent_children(
        self,
        parent_query: str,
        children: DataFrame,
        parent_col: str = "parent_url",
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES has_parent query (join field): child rows whose parent doc
        matches the parent query — filter context, score=false (the ES
        default), so the parent side is the no-decode matching_doc_ids
        set. Plan: parent hit set → docmap urls (bounded by #hits) →
        LEFT SEMI join into the child relation on the routing key; AQE
        broadcasts the url set when small, and the child side never
        shuffles more than that one join."""
        hits = self.matching_doc_ids(
            parent_query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        urls = hits.join(dm.select("doc_id", "url"), "doc_id").select(
            F.col("url").alias(parent_col)
        )
        return children.join(urls, parent_col, "left_semi")

    def children_agg(
        self,
        parent_query: str,
        children: DataFrame,
        child_field: str,
        parent_col: str = "parent_url",
        size: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """ES ``children`` aggregation (join field): inside a parent-side
        query, step DOWN to the matching parents' children and bucket
        them by ``child_field`` — doc_count counts CHILD docs (the agg
        switches document context; ES children agg semantics). Buckets
        rank count desc then key asc (ES terms order), top ``size``.

        Plan: parent hit set → docmap urls (bounded by #hits) → LEFT
        SEMI into the child relation on the routing key → one hash
        aggregation over ≤ #distinct child_field values. The child side
        shuffles once, for the count agg."""
        kids = self.has_parent_children(
            parent_query, children, parent_col=parent_col, mode=mode
        )
        return (
            kids.groupBy(F.col(child_field).alias("key"))
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(int(size))
        )

    def parent_agg(
        self,
        children: DataFrame,
        child_filter: str,
        field_values: DataFrame,
        field: str,
        parent_col: str = "parent_url",
        size: int = 10,
    ) -> DataFrame:
        """ES ``parent`` aggregation (join field): from a child-side
        filter, step UP to the distinct live parents owning >= 1 matching
        child and bucket them by a parent field — doc_count counts
        PARENT docs, each parent once no matter how many children hit
        (the dedup is the whole point of the context switch).
        ``field_values`` is a (url, field) parent relation.

        Plan: child predicate pushes into the child scan → distinct
        routing keys (bounded by #parents with matches) → docmap join
        drops tombstoned parents → field join → one small hash agg."""
        parents = (
            children.filter(child_filter)
            .select(F.col(parent_col).alias("url"))
            .distinct()
        )
        dm = self.spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("doc_id", "url")
        live = parents.join(dm, "url")
        if self.persistent_excluded:
            live = live.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        return (
            live.join(field_values.select("url", field), "url")
            .groupBy(F.col(field).alias("key"))
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(int(size))
        )

    def collapse_topk(
        self,
        query: str,
        field_values: DataFrame,
        collapse_field: str,
        k: int = 10,
        mode: str = "or",
        round_to: int | None = 4,
        ext_id_col: str | None = None,
    ) -> DataFrame:
        """ES field-collapsing analogue (``collapse: {field}``): the hit
        list keeps only the best-scoring doc per ``collapse_field`` value
        (ties → lowest doc id), ranked by that doc's score; ``group_hits``
        carries the collapsed group's total hit count (the inner_hits
        cardinality). Plan: the relational score set joins docmap + the
        field, then ONE window partitioned by the collapse value — the
        window key is the field, so skew is bounded by the largest field
        group, and the final global sort is over ≤ #distinct-values rows.

        Scores round BEFORE ranking (the serving-score discipline:
        what's compared is what a client is shown). ``ext_id_col`` names
        a caller-provided stable doc identifier in ``field_values``
        (e.g. the corpus id behind the url); when given, tie-breaks rank
        on it and the output ``doc_id`` carries it — internal dense ids
        are an index detail a client never sees."""
        if mode != "or":
            raise ValueError("collapse_topk scores OR-mode (ES default)")
        scores = self.relational_scores(query)
        if round_to is not None:
            scores = scores.withColumn("score", F.round("score", round_to))
        dm = self.spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("doc_id", "url")
        fv_cols = ["url", collapse_field] + (
            [ext_id_col] if ext_id_col else []
        )
        j = scores.join(dm, "doc_id").join(field_values.select(*fv_cols), "url")
        idc = ext_id_col or "doc_id"
        grp = Window.partitionBy(collapse_field)
        w = grp.orderBy(F.col("score").desc(), F.col(idc).asc())
        return (
            j.withColumn("rnk", F.row_number().over(w))
            .withColumn("group_hits", F.count(F.lit(1)).over(grp))
            .filter(F.col("rnk") == 1)
            .select(
                collapse_field, F.col(idc).alias("doc_id"), "score",
                "group_hits",
            )
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def boosting_topk(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.3,
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES boosting-query analogue: docs are scored by the positive
        query; docs ALSO matching the negative query stay in the results
        but with score × ``negative_boost`` (demotion, not exclusion —
        the contrast with bool.must_not). Plan: the positive relational
        score set left-joins the negative filter-context id set (posting
        algebra, no scoring) — one broadcast-sized join on doc_id, then
        the usual rounded top-k. ``with_url``/``fetch_k`` follow the
        topk contract (over-fetch so a caller re-ranking on an external
        tie key keeps boundary tie groups)."""
        pos = self.relational_scores(positive)
        neg = self.matching_doc_ids(negative).withColumn("_neg", F.lit(True))
        out = pos.join(neg, "doc_id", "left").withColumn(
            "score",
            F.col("score")
            * F.when(F.col("_neg"), F.lit(float(negative_boost)))
            .otherwise(F.lit(1.0)),
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        out = (
            out.select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )
        if with_url:
            dm = self.spark.read.parquet(
                os.path.join(self.index_dir, "docmap")
            ).select("doc_id", "url")
            out = out.join(dm, "doc_id").select("doc_id", "url", "score")
        return out

    def regexp_topk(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES regexp-query analogue: the pattern runs against the term
        dictionary (anchored match — ES regexp is implicitly anchored,
        so the pattern is wrapped ``^(?:...)$``), expansion is
        deterministic (alphabetic, capped at max_expansions) and scored
        as a BM25 OR — the same scoring-boolean rewrite the other
        multi-term queries use. Keep patterns to the RE2-compatible
        subset (classes, alternation, ``.*+?`` quantifiers) so any
        engine's regex library agrees on the match set."""
        rows = (
            self.term_stats
            .filter(F.col("term").rlike(f"^(?:{pattern})$"))
            .select("term")
            .orderBy("term")
            .limit(int(max_expansions))
            .collect()
        )
        terms = [r["term"] for r in rows]
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def function_score_topk(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        k: int = 10,
        factor: float = 1.0,
        modifier: str = "ln1p",
        boost_mode: str = "multiply",
        mode: str = "or",
        fetch_k: int | None = None,
        round_to: int | None = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES function_score with a field_value_factor function: rescore
        the query's BM25 hits by a function of a stored numeric field —
        ``func = modifier(factor * field)`` with modifiers none / ln1p
        (ln(1+x)) / log1p (log10(1+x)) / sqrt / square / reciprocal,
        combined per ``boost_mode`` (multiply / sum / max / min /
        replace). Docs missing the field drop out (inner join), matching
        ES's missing-value error unless a `missing` default is supplied
        upstream in ``field_values``. Plan: relational BM25 scores
        (O(postings of the query terms)) joined through the docmap to
        the field relation, one TakeOrdered k — never materializes
        non-matching docs."""
        mods = {
            "none": lambda c: c,
            "ln1p": lambda c: F.log(F.lit(1.0) + c),
            "log1p": lambda c: F.log10(F.lit(1.0) + c),
            "sqrt": F.sqrt,
            "square": lambda c: c * c,
            "reciprocal": lambda c: F.lit(1.0) / c,
        }
        if modifier not in mods:
            raise ValueError(f"unknown field_value_factor modifier: {modifier!r}")
        combines = {
            "multiply": lambda s, f_: s * f_,
            "sum": lambda s, f_: s + f_,
            "max": lambda s, f_: F.greatest(s, f_),
            "min": lambda s, f_: F.least(s, f_),
            "replace": lambda s, f_: f_,
        }
        if boost_mode not in combines:
            raise ValueError(f"unknown function_score boost_mode: {boost_mode!r}")
        scores = self.relational_scores(query)
        dm = self.spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("doc_id", "url")
        j = (
            scores.join(dm, "doc_id")
            .join(field_values.select("url", field), "url")
        )
        func = mods[modifier](F.lit(float(factor)) * F.col(field).cast("double"))
        total = combines[boost_mode](F.col("score"), func)
        out = (
            j.select("doc_id", "url", total.alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        if not with_url:
            out = out.drop("url")
        return out

    def agg_composite(
        self,
        query: str,
        field_values: DataFrame,
        sources: list[str],
        size: int = 10,
        after: tuple | None = None,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES composite-aggregation analogue: paginate through ALL
        distinct value combinations of ``sources`` (bucket key tuple,
        ascending) over the hit set, ``size`` buckets per page, resuming
        strictly after the ``after`` key tuple — the ES pattern for
        exhaustively walking a high-cardinality bucket space without one
        giant terms response. Stateless-cursor shape (like
        search_after): each page is an independent job, the after-tuple
        predicate pushes into the aggregate, and the per-page result is
        size rows — so walking 10^9 buckets never materializes them in
        one response."""
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("doc_id", "url")
        j = hits.join(dm, "doc_id").join(field_values, "url")
        g = j.groupBy(*sources).agg(F.count("*").alias("doc_count"))
        if after is not None:
            if len(after) != len(sources):
                raise ValueError(
                    f"after key arity {len(after)} != sources arity {len(sources)}"
                )
            # strict tuple > after: (a > A) OR (a = A AND b > B) OR ...
            cond = F.lit(False)
            eq = F.lit(True)
            for col, val in zip(sources, after):
                cond = cond | (eq & (F.col(col) > F.lit(val)))
                eq = eq & (F.col(col) == F.lit(val))
            g = g.filter(cond)
        return g.orderBy(*[F.col(c).asc() for c in sources]).limit(int(size))

    def rescore_topk(
        self,
        query: str,
        rescore_query: str,
        k: int = 10,
        window: int = 50,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES rescore API analogue: take the top ``window`` docs of the
        base query (by rounded serving score — the deterministic window
        boundary both engine and oracle agree on), re-score them as
        ``query_weight * base + rescore_weight * secondary`` where the
        secondary score is the rescore query's BM25 (0 for window docs
        it doesn't match — ES's rescore-window semantics), and return
        the top ``k`` of the window (requires k <= window, as in ES
        where hits below the window keep their base order). The classic
        use is a cheap broad match re-ranked by an expensive secondary
        query evaluated on only ``window`` docs. Plan: two
        relational-score sets (each O(postings of its terms)), window =
        one TakeOrdered, blend = one broadcast-sized left join."""
        if k > window:
            raise ValueError(f"k={k} must be <= window={window}")
        base = self.relational_scores(query)
        win = (
            base.withColumn("r", F.round("score", 4))
            .orderBy(F.col("r").desc(), F.col("doc_id").asc())
            .limit(int(window))
            .select("doc_id", F.col("score").alias("base_score"))
        )
        sec = self.relational_scores(rescore_query).select(
            "doc_id", F.col("score").alias("sec_score")
        )
        total = (
            F.lit(float(query_weight)) * F.col("base_score")
            + F.lit(float(rescore_weight)) * F.coalesce(F.col("sec_score"), F.lit(0.0))
        )
        out = (
            win.join(sec, "doc_id", "left")
            .select("doc_id", total.alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        if with_url:
            dm = self.spark.read.parquet(
                os.path.join(self.index_dir, "docmap")
            ).select("doc_id", "url")
            out = out.join(dm, "doc_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        return out

    def query_string_topk(
        self,
        qs: str,
        k: int = 10,
        max_expansions: int = 50,
        slop: int = 0,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """Lucene/ES ``query_string`` analogue over the documented subset
        ``+clause`` (must) / ``-clause`` (must_not) / bare clause (should)
        / ``"a b"`` quoted phrases / trailing-``*`` prefix clauses — no
        field prefixes or parens (single analyzed field per index here;
        multi-field routing is ``multi_match_topk``'s job).

        Semantics follow Lucene's BooleanQuery: the score is the BM25 sum
        over EVERY positive term the doc matches (must terms score too;
        prefix clauses expand alphabetically capped at ``max_expansions``
        and score as a scoring-boolean rewrite, exactly like
        ``prefix_topk``); a doc qualifies iff it matches at least one
        expansion of every must clause, every must phrase, no must_not
        term, and no must_not phrase. Phrase clauses are filter-context
        (``phrase_match_ids`` — they gate but don't score, the
        constant-score ES filter shape) and need the positional relation.

        Plan: one relational-BM25 aggregation over the positive terms'
        postings, then left-semi / left-anti joins against the (small)
        per-clause hit-id sets — each O(postings of that clause's terms),
        no corpus scan anywhere."""
        import re

        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        must_groups: list[list[str]] = []   # each: doc must match >= 1
        should_terms: list[str] = []
        not_terms: list[str] = []
        must_phrases: list[str] = []
        not_phrases: list[str] = []
        for sign, phrase, psign, word in re.findall(
            r'([+-]?)"([^"]*)"|([+-]?)(\S+)', qs
        ):
            if phrase:
                (not_phrases if sign == "-" else must_phrases).append(phrase)
                continue
            is_prefix = word.endswith("*") and len(word) > 1
            toks = tokenize_py(word.rstrip("*"))
            if not toks:
                continue
            if is_prefix:
                rows = (
                    self.term_stats.filter(F.col("term").startswith(toks[0]))
                    .select("term").orderBy("term")
                    .limit(int(max_expansions)).collect()
                )
                exp = [r["term"] for r in rows]
                if psign == "-":
                    not_terms.extend(exp)
                elif psign == "+":
                    must_groups.append(exp or ["\x00nomatch"])
                else:
                    should_terms.extend(exp)
            else:
                if psign == "-":
                    not_terms.extend(toks)
                elif psign == "+":
                    for t in toks:
                        must_groups.append([t])
                else:
                    should_terms.extend(toks)

        positive = sorted(
            set(should_terms) | {t for g in must_groups for t in g if t != "\x00nomatch"}
        )
        if not positive or any(g == ["\x00nomatch"] for g in must_groups):
            return spark.createDataFrame([], TOPK_SCHEMA)
        out = self.relational_scores(" ".join(positive))
        for g in must_groups:
            out = out.join(
                self.matching_doc_ids(" ".join(g), mode="or"),
                "doc_id", "left_semi",
            )
        if not_terms:
            out = out.join(
                self.matching_doc_ids(" ".join(sorted(set(not_terms))), mode="or"),
                "doc_id", "left_anti",
            )
        if must_phrases or not_phrases:
            from kafka_es_spark.operators.positions import phrase_match_ids

            for p in must_phrases:
                out = out.join(
                    phrase_match_ids(spark, self.index_dir, p, slop=slop),
                    "doc_id", "left_semi",
                )
            for p in not_phrases:
                out = out.join(
                    phrase_match_ids(spark, self.index_dir, p, slop=slop),
                    "doc_id", "left_anti",
                )
        out = (
            out.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        if with_url:
            dm = spark.read.parquet(
                os.path.join(self.index_dir, "docmap")
            ).select("doc_id", "url")
            out = out.join(dm, "doc_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        return out

    def match_all_ids(self) -> DataFrame:
        """ES ``match_all`` in filter context: every LIVE doc id (docmap
        minus pending tombstones). One dense-id column scan of the docmap
        — the only hit-set builder allowed to touch the whole corpus,
        because the caller asked for exactly that (the ``global``
        aggregation scope and query-less aggregations). Stays a pure
        column projection: no postings read, no shuffle."""
        dm = self.spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("doc_id")
        if self.persistent_excluded:
            dm = dm.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        return dm

    def _field_rel(
        self, field_values: DataFrame | None, field: str
    ) -> DataFrame:
        """(doc_id, url, field) for EVERY live doc — the global-scope
        sibling of ``_hit_fields`` (which is hit-scoped). Stored-field
        path reads the docmap column; external path joins by url."""
        dm = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        if self.persistent_excluded:
            dm = dm.filter(
                ~F.col("doc_id").isin(sorted(self.persistent_excluded))
            )
        if field_values is None:
            if field not in dm.columns:
                raise ValueError(
                    f"field {field!r} is not stored in this index's docmap "
                    f"(stored: {sorted(set(dm.columns) - {'doc_id'})}); "
                    "build with store_fields=(...) or pass field_values"
                )
            return dm.select("doc_id", "url", field)
        return dm.select("doc_id", "url").join(
            field_values.select("url", field), "url"
        )

    def exists_ids(
        self, field: str, field_values: DataFrame | None = None
    ) -> DataFrame:
        """ES ``exists`` query in filter context: live docs whose
        ``field`` has a non-null value. A missing row in an external
        ``field_values`` relation counts as missing too (ES: no indexed
        value), which the inner url join gives for free."""
        return (
            self._field_rel(field_values, field)
            .filter(F.col(field).isNotNull())
            .select("doc_id")
        )

    def exists_filter_topk(
        self,
        query: str,
        field: str,
        field_values: DataFrame | None = None,
        k: int = 10,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES ``bool: {must: match, filter: exists}``: BM25 top-k
        restricted to docs that HAVE the field. Scoring stats stay
        index-level (filters never touch idf/avgdl — the
        range_filtered_topk contract); the exists hit set left-semi
        joins the relational scores, so cost is O(postings of the query
        terms) + one docmap-column predicate."""
        out = self.relational_scores(query).join(
            self.exists_ids(field, field_values), "doc_id", "left_semi"
        )
        return self._finish_topk(out, k, round_to, fetch_k, with_url)

    def _finish_topk(
        self, out: DataFrame, k: int, round_to: int | None,
        fetch_k: int | None, with_url: bool,
    ) -> DataFrame:
        """Shared tail of the relational-score query paths: rank
        (score desc, doc_id asc), cut at max(k, fetch_k), round, and
        optionally attach urls from the docmap (≤fetch_k rows join a
        broadcast-sized side)."""
        out = (
            out.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        if with_url:
            dm = self.spark.read.parquet(
                os.path.join(self.index_dir, "docmap")
            ).select("doc_id", "url")
            out = out.join(dm, "doc_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        return out

    def agg_missing(
        self,
        query: str,
        field: str,
        field_values: DataFrame | None = None,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES ``missing`` aggregation: one row ``(doc_count)`` — hits of
        ``query`` whose ``field`` is null or absent. The complement of
        ``exists_ids`` over the hit set: hit ids LEFT JOIN the field
        relation, count the nulls. External relations may omit rows
        entirely (absent ≡ null), so the join is left, not inner."""
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        fv = self._field_rel(field_values, field).select("doc_id", field)
        return (
            hits.join(fv, "doc_id", "left")
            .agg(
                F.sum(F.col(field).isNull().cast("long"))
                .cast("long").alias("doc_count")
            )
        )

    def agg_global(
        self,
        field: str,
        field_values: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``global`` aggregation with a stats sub-agg: the metric row
        over ALL live docs, ignoring whatever query produced the hits
        beside it (the classic "facet counts vs the whole corpus"
        denominator). Same output shape as ``agg_stats``; one partial
        aggregate over the field relation."""
        fv = self._field_rel(field_values, field)
        return fv.agg(
            F.count(field).alias("n_docs_agg"),
            F.min(field).alias("min_v"),
            F.max(field).alias("max_v"),
            F.sum(field).cast("long").alias("sum_v"),
            F.round(F.avg(field), 4).alias("avg_v"),
        )

    def ids_topk(
        self,
        query: str,
        urls: list[str],
        k: int = 10,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES ``bool: {must: match, filter: ids}``: BM25 top-k restricted
        to an explicit id (url) list — the "score these known docs"
        request behind re-ranking and saved result sets. The id list is
        query-sized by contract (ES caps request arrays); it broadcasts
        against the docmap to resolve dense ids, then left-semi joins the
        relational scores. Tombstoned ids drop via relational_scores'
        exclusion; unknown ids simply match nothing (ES semantics)."""
        spark = self.spark
        req = spark.createDataFrame([(u,) for u in urls], "url string")
        dm = spark.read.parquet(
            os.path.join(self.index_dir, "docmap")
        ).select("url", "doc_id")
        ids = dm.join(F.broadcast(req), "url").select("doc_id")
        out = self.relational_scores(query).join(ids, "doc_id", "left_semi")
        return self._finish_topk(out, k, round_to, fetch_k, with_url)

    def simple_query_string_topk(
        self,
        qs: str,
        default_operator: str = "or",
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES ``simple_query_string`` over the documented subset: bare
        terms, ``-term`` negation, ``"quoted phrases"``, trailing-``*``
        prefix clauses, and ``|`` joining adjacent clauses into one OR
        group — no parens or field routing (same single-field scope as
        ``query_string_topk``). Unlike query_string, the syntax never
        errors: unparsable fragments analyze to terms (the "simple" in
        the name is the lenient contract).

        ``default_operator`` decides what whitespace means: ``"or"``
        (ES default) makes every clause a should; ``"and"`` makes every
        positive clause a must GROUP (a ``a|b`` group needs >= 1 member).
        Scoring is the Lucene scoring-boolean rewrite either way: BM25
        sum over every positive term the doc matches. Phrases are
        filter-context through the positional relation. Plan shape is
        query_string_topk's: one relational-BM25 aggregation + per-clause
        semi/anti joins, each O(postings of that clause's terms)."""
        import re

        from kafka_es_spark.functions.tokenize import tokenize_py

        if default_operator not in ("or", "and"):
            raise ValueError("default_operator must be 'or' or 'and'")
        spark = self.spark
        groups: list[tuple[bool, list[str], list[str]]] = []
        # '|' binds tighter than whitespace: normalize 'a | b' to 'a|b'
        # so one fragment is one clause group
        qs = re.sub(r"\s*\|\s*", "|", qs)
        # each fragment: (negated, terms, phrases)
        for frag in re.findall(r'-?"[^"]*"|\S+', qs):
            neg = frag.startswith("-")
            frag = frag.lstrip("-")
            terms: list[str] = []
            phrases: list[str] = []
            for piece in frag.split("|"):
                if not piece:
                    continue
                if len(piece) >= 2 and piece[0] == '"' and piece[-1] == '"':
                    phrases.append(piece[1:-1])
                elif piece.endswith("*") and len(piece) > 1:
                    base = tokenize_py(piece.rstrip("*"))
                    if base:
                        rows = (
                            self.term_stats
                            .filter(F.col("term").startswith(base[0]))
                            .select("term").orderBy("term")
                            .limit(int(max_expansions)).collect()
                        )
                        terms.extend(r["term"] for r in rows)
                        if not rows:
                            terms.append("\x00nomatch")
                else:
                    terms.extend(tokenize_py(piece))
            if not terms and not phrases:
                continue
            groups.append((neg, terms, phrases))

        from kafka_es_spark.operators.positions import phrase_match_ids

        positive = sorted(
            {t for neg, ts, _ in groups for t in ts
             if not neg and t != "\x00nomatch"}
        )
        if not positive:
            # no positive terms, but quoted phrases may still carry the
            # query (qs='"exact phrase"'): ES returns the phrase matches.
            # Build the hit set from the positional relation at constant
            # 0 score (phrases are filter-context in this engine); the
            # group loop below still applies negations and AND gating.
            pos_phrases = sorted(
                {p for neg, _, phs in groups if not neg for p in phs}
            )
            if not pos_phrases:
                return spark.createDataFrame([], TOPK_SCHEMA)
            ids = None
            for p in pos_phrases:
                pm = phrase_match_ids(spark, self.index_dir, p).select(
                    "doc_id"
                )
                ids = pm if ids is None else ids.unionByName(pm)
            out = ids.distinct().select(
                "doc_id", F.lit(0.0).alias("score")
            )
        else:
            out = self.relational_scores(" ".join(positive))

        for neg, ts, phrases in groups:
            ts = [t for t in ts if t != "\x00nomatch"]
            if neg:
                if ts:
                    out = out.join(
                        self.matching_doc_ids(" ".join(sorted(set(ts)))),
                        "doc_id", "left_anti",
                    )
                for p in phrases:
                    out = out.join(
                        phrase_match_ids(spark, self.index_dir, p),
                        "doc_id", "left_anti",
                    )
                continue
            if default_operator == "and":
                # the whole group is one must clause: >= 1 member matches
                ids = None
                if ts:
                    ids = self.matching_doc_ids(" ".join(sorted(set(ts))))
                for p in phrases:
                    pm = phrase_match_ids(spark, self.index_dir, p)
                    ids = pm if ids is None else ids.union(pm).distinct()
                if ids is None:
                    return spark.createDataFrame([], TOPK_SCHEMA)
                out = out.join(ids, "doc_id", "left_semi")
            else:
                # should group: phrases still gate nothing in OR mode —
                # ES treats a should phrase as optional signal; terms
                # already score through `positive`. A should PHRASE does
                # gate in ES only when it is the lone clause; that case
                # has no positive terms and returned empty above.
                pass
        return self._finish_topk(out, k, round_to, fetch_k, with_url)

    def topk_many(
        self,
        queries: list[str],
        k: int = 10,
        round_to: int | None = 4,
        exclude_doc_ids: set[int] | None = None,
        mode: str = "or",
    ) -> DataFrame:
        """Batch query API: score a whole query batch in ONE Spark job —
        (query_id, doc_id, score) rows, top-k per query. A serving engine
        amortizes job scheduling/exchange over the batch: per-query cost
        collapses to the scorer itself. Term weights (idf) are
        query-independent, so per-range cursors are decoded ONCE and reused
        by every query; both scorers are read-only over them.
        query_id = position in ``queries``. ``mode="and"`` applies
        conjunctive (bool.must) semantics to every query in the batch."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms_by_id = {
            i: sorted(set(tokenize_py(q))) for i, q in enumerate(queries)
        }
        all_terms = sorted({t for ts in qterms_by_id.values() for t in ts})
        out_schema = T.StructType(
            [
                T.StructField("query_id", T.IntegerType(), False),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("score", T.DoubleType(), False),
            ]
        )
        if not all_terms or self.n_docs == 0 or self.avgdl == 0:
            return spark.createDataFrame([], out_schema)
        ts = self.term_stats.filter(F.col("term").isin(all_terms)).collect()
        weights = {r["term"]: idf(self.n_docs, int(r["df"])) for r in ts}
        if not weights:
            return spark.createDataFrame([], out_schema)
        avgdl, codec = self.avgdl, self.codec
        excluded = (
            frozenset(int(d) for d in (exclude_doc_ids or ()))
            | self.persistent_excluded
        ) or None
        segs = self._query_segs(list(weights))
        dls_rel = self._query_dls(segs)

        def score_range(key: tuple, pdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame(
                    {"query_id": pd.Series(dtype=np.int32),
                     "doc_id": pd.Series(dtype=np.int64),
                     "score": pd.Series(dtype=np.float64)}
                )
            dl_base, dl_arr = _range_dls(key, dpdf)
            by_term = _rows_by_term(pdf)
            cursors = {
                t: _Cursor(rows, weights[t], avgdl, codec, dl_base, dl_arr)
                for t, rows in by_term.items()
            }
            out_rows = []
            for qid, qts in qterms_by_id.items():
                qc = [cursors[t] for t in qts if t in cursors]
                if not qc:
                    continue
                if mode == "and":
                    if len(qc) < len(qts):
                        continue  # a required term is absent in this range
                    top = conjunctive_range_topk(qc, k, excluded=excluded)
                else:
                    top = blockmax_topk_vectorized(qc, k, excluded=excluded)
                for d, s in top:
                    out_rows.append((qid, d, s))
            return pd.DataFrame(out_rows, columns=["query_id", "doc_id", "score"])

        ranged = (
            segs.groupBy("seg")
            .cogroup(dls_rel.groupBy("seg"))
            .applyInPandas(score_range, out_schema)
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        out = (
            ranged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        return out.orderBy("query_id", F.col("score").desc(), F.col("doc_id").asc())


def multi_match_topk(
    spark: SparkSession,
    field_indexes: dict[str, tuple[str, float]],
    query: str,
    k: int = 10,
    match_type: str = "most_fields",
    tie_breaker: float = 0.0,
    round_to: int | None = 4,
    with_url: bool = False,
) -> DataFrame:
    """ES ``multi_match`` analogue over per-field indexes:
    ``field_indexes`` maps field name -> (index_dir, boost), one
    inverted index per field built over the SAME corpus (same docmap —
    dense doc ids are a pure function of the url set, so ids align
    across the field indexes by construction; guarded by an n_docs
    check).

    ``match_type``:
    * ``most_fields`` — score = Σ_f boost_f · BM25_f (the ES
      most_fields sum).
    * ``best_fields`` — score = best + tie_breaker · (Σ others), ES's
      dis_max; tie_breaker=0 is pure dis_max.

    Plan: each field contributes its relational score set (cost
    O(postings of the query terms in that field's index)); fields
    combine by full-outer equi-joins on doc_id (candidates = union of
    per-field hit sets — a doc matching ANY field competes, the
    multi_match contract) and one TakeOrdered k. Per-field scoring
    never materializes non-matching docs, so the combine size is
    bounded by Σ per-field hits, not the corpus."""
    if match_type not in ("most_fields", "best_fields"):
        raise ValueError(f"unknown multi_match type: {match_type!r}")
    fields = sorted(field_indexes)
    searchers = {f: Searcher(spark, field_indexes[f][0], cache=False) for f in fields}
    n_docs = {f: searchers[f].n_docs for f in fields}
    if len(set(n_docs.values())) > 1:
        raise ValueError(
            f"field indexes disagree on corpus size ({n_docs}); "
            "multi_match requires indexes built over the same corpus"
        )
    combined = None
    for f in fields:
        boost = float(field_indexes[f][1])
        sf = searchers[f].relational_scores(query).select(
            "doc_id", (F.lit(boost) * F.col("score")).alias(f"s_{f}")
        )
        combined = sf if combined is None else combined.join(
            sf, "doc_id", "full_outer"
        )
    cols = [F.coalesce(F.col(f"s_{f}"), F.lit(0.0)) for f in fields]
    if match_type == "most_fields":
        total = cols[0]
        for c in cols[1:]:
            total = total + c
    else:
        best = F.greatest(*cols) if len(cols) > 1 else cols[0]
        ssum = cols[0]
        for c in cols[1:]:
            ssum = ssum + c
        total = best + F.lit(float(tie_breaker)) * (ssum - best)
    out = (
        combined.select("doc_id", total.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(int(k))
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    if with_url:
        first = fields[0]
        dm = spark.read.parquet(
            os.path.join(field_indexes[first][0], "docmap")
        ).select("doc_id", "url")
        out = out.join(dm, "doc_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
    return out


def combined_fields_topk(
    spark: SparkSession,
    field_indexes: dict[str, tuple[str, float]],
    query: str,
    k: int = 10,
    round_to: int | None = 4,
    with_url: bool = False,
) -> DataFrame:
    """ES combined_fields query — the BM25F side of multi-field search
    (``multi_match_topk`` covers most_fields/best_fields, which combine
    AFTER per-field saturation): here fields merge BEFORE saturation
    into one synthetic field —

        tf̃(t,d) = Σ_f boost_f · tf_f(t,d)
        dl̃(d)   = Σ_f boost_f · dl_f(d);  avgdl̃ = corpus mean of dl̃
        df(t)   = |{d : t appears in ANY field}|
        score   = Σ_t idf(df) · tf̃·(k1+1) / (tf̃ + k1·(1−b + b·dl̃/avgdl̃))

    (Robertson's BM25F with field weights as boosts; ES requires the
    fields to share an analyzer — true by construction here.)

    Plan: per-field pruned postings of the query terms → weighted
    (doc, term) roll-up; combined per-doc length from the docmaps'
    stored dl (equi-joins on the aligned dense ids — same guard as
    multi_match); combined df from the distinct (doc, term) union.
    Every aggregate runs over query-term postings, never the corpus;
    avgdl̃ is one scalar aggregate over the docmaps."""
    from functools import reduce as _reduce

    from kafka_es_spark.functions.tokenize import tokenize_py

    fields = sorted(field_indexes)
    searchers = {
        f: Searcher(spark, field_indexes[f][0], cache=False) for f in fields
    }
    n_by_f = {f: searchers[f].n_docs for f in fields}
    if len(set(n_by_f.values())) > 1:
        raise ValueError(
            f"field indexes disagree on corpus size ({n_by_f}); "
            "combined_fields requires indexes built over the same corpus"
        )
    n = next(iter(n_by_f.values()))
    qterms = sorted(set(tokenize_py(query)))
    empty = (
        "doc_id long, url string, score double" if with_url
        else "doc_id long, score double"
    )
    if not qterms or n == 0:
        return spark.createDataFrame([], empty)
    per = []
    for f in fields:
        s = searchers[f]
        present = sorted(
            r["term"]
            for r in s.term_stats.filter(F.col("term").isin(qterms)).collect()
        )
        if not present:
            continue
        boost = float(field_indexes[f][1])
        per.append(
            s._postings_rows(s._query_segs(present)).select(
                "doc_id", "term",
                (F.lit(boost) * F.col("tf")).alias("wtf"),
            )
        )
    if not per:
        return spark.createDataFrame([], empty)
    u = _reduce(lambda a, b: a.unionByName(b), per)
    tfc = u.groupBy("doc_id", "term").agg(F.sum("wtf").alias("tfc"))
    dfc = (
        u.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "w",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
    )
    dls = None
    for f in fields:
        boost = float(field_indexes[f][1])
        dm = spark.read.parquet(
            os.path.join(field_indexes[f][0], "docmap")
        ).select("doc_id", (F.lit(boost) * F.col("dl")).alias(f"_dl_{f}"))
        dls = dm if dls is None else dls.join(dm, "doc_id")
    dlc = dls.select(
        "doc_id",
        sum((F.col(f"_dl_{f}") for f in fields[1:]),
            F.col(f"_dl_{fields[0]}")).alias("dlc"),
    )
    avgdlc = float(dlc.agg(F.avg("dlc")).collect()[0][0] or 0.0)
    if avgdlc == 0:
        return spark.createDataFrame([], empty)
    contrib = (
        F.col("w") * F.col("tfc") * F.lit(K1 + 1.0)
        / (
            F.col("tfc")
            + F.lit(K1)
            * (F.lit(1.0 - B) + F.lit(B) * F.col("dlc") / F.lit(avgdlc))
        )
    )
    out = (
        tfc.join(F.broadcast(dfc), "term")
        .join(dlc, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    dead = frozenset().union(
        *(searchers[f].persistent_excluded for f in fields)
    )
    if dead:
        out = out.filter(~F.col("doc_id").isin(sorted(dead)))
    score = (
        F.round(F.col("score"), round_to) if round_to is not None
        else F.col("score")
    )
    if with_url:
        dm0 = spark.read.parquet(
            os.path.join(field_indexes[fields[0]][0], "docmap")
        ).select("doc_id", "url")
        out = out.join(dm0, "doc_id")
        cols = ["doc_id", "url", score.alias("score")]
    else:
        cols = ["doc_id", score.alias("score")]
    return (
        out.select(*cols)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(int(k))
    )


def build_suggest_inputs(
    pages: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    n_tokens: int = 3,
) -> DataFrame:
    """Completion-suggester input relation (suggestion, weight, url):
    suggestion = the doc's first ``n_tokens`` analyzed tokens (the
    title-ish prefix ES deployments typically feed the completion field),
    weight = the doc's token count (any per-doc salience works; ES weights
    are caller-chosen longs). Built once at index time, like ES's
    completion field — write it sorted by ``suggestion`` so the prefix
    filter prunes parquet row groups by min/max stats."""
    from kafka_es_spark.functions.tokenize import tokens

    toks = tokens(F.col(text_col))
    return pages.select(
        F.array_join(F.slice(toks, 1, int(n_tokens)), " ").alias("suggestion"),
        F.size(toks).cast("long").alias("weight"),
        F.col(url_col).alias("url"),
    ).filter(F.length("suggestion") > 0)


def completion_suggest(
    suggestions: DataFrame,
    prefix: str,
    size: int = 5,
    fuzziness: int = 0,
    fuzzy_prefix_length: int = 1,
) -> DataFrame:
    """ES completion suggester: suggestions whose text starts with the
    typed ``prefix`` (ES matches the raw input prefix, not analyzed
    tokens), ranked weight desc with skip_duplicates=true (best weight
    per distinct suggestion text), top ``size``. ``fuzziness=d`` also
    admits suggestions whose same-length head is within ``d`` Levenshtein
    edits of the prefix, anchored on ``fuzzy_prefix_length`` exact leading
    chars (Lucene FuzzyCompletionQuery's unicode_aware pre-filter).

    Plan: one pushable predicate over the suggestion relation (a
    startswith prunes row groups when the relation is suggestion-sorted;
    the fuzzy branch adds a head-Levenshtein on the survivors of the
    anchor prefix), a best-weight-per-text aggregation, TakeOrdered. No
    index or corpus access — the relation IS the FST analogue."""
    p = prefix
    if not p:
        raise ValueError("completion_suggest needs a non-empty prefix")
    cond = F.col("suggestion").startswith(p)
    if int(fuzziness) > 0:
        anchor = F.col("suggestion").startswith(p[: int(fuzzy_prefix_length)])
        head = F.substring("suggestion", 1, len(p))
        cond = cond | (
            anchor & (F.levenshtein(head, F.lit(p)) <= int(fuzziness))
        )
    return (
        suggestions.filter(cond)
        .groupBy("suggestion")
        .agg(F.max("weight").cast("long").alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("suggestion").asc())
        .limit(int(size))
    )


def build_edge_ngrams(
    spark: SparkSession,
    index_dir: str,
    min_gram: int = 1,
    max_gram: int = 10,
    n_files: int = 8,
) -> None:
    """Materialize the search_as_you_type relation: every dictionary
    term exploded into its leading edge n-grams of length
    [min_gram, max_gram] — (gram, term) rows under ``edge_ngrams/``,
    gram-sorted within files so a typeahead's gram-equality predicate
    prunes row groups (ES's search_as_you_type field does this
    expansion at index time into the ``._index_prefix`` subfield).

    Size: ≤ max_gram × |dictionary| rows — derived from term_stats
    (already tiny relative to postings), one explode + one shuffle to
    gram order. Re-run after compaction folds new epochs (the
    dictionary is append-mostly; a rebuild is one dictionary pass)."""
    import json

    if not 1 <= int(min_gram) <= int(max_gram):
        raise ValueError("need 1 <= min_gram <= max_gram")
    ts = (
        spark.read.parquet(os.path.join(index_dir, "term_stats"))
        .select("term")
        .distinct()
        .filter(F.length("term") >= int(min_gram))
    )
    grams = ts.select(
        F.explode(
            F.expr(
                f"transform(sequence({int(min_gram)}, "
                f"least({int(max_gram)}, length(term))), "
                "i -> substring(term, 1, i))"
            )
        ).alias("gram"),
        "term",
    )
    (
        grams.repartition(int(n_files), "gram")
        .sortWithinPartitions("gram", "term")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "edge_ngrams"))
    )
    with open(os.path.join(index_dir, "edge_ngrams_meta.json"), "w") as fh:
        json.dump({"min_gram": int(min_gram), "max_gram": int(max_gram)}, fh)


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    round_to: int | None = 4,
    with_url: bool = False,
    fetch_k: int | None = None,
    mode: str = "or",
) -> DataFrame:
    """One-shot distributed block-max WAND top-k over an index dataset."""
    return Searcher(spark, index_dir, cache=False).topk(
        query, k=k, round_to=round_to, with_url=with_url, fetch_k=fetch_k,
        mode=mode,
    )


# ---------------------------------------------------------------------------
# Exhaustive numpy oracle (rank-identity reference for WAND; FIXTURES.md §2)
# ---------------------------------------------------------------------------


def exhaustive_topk_numpy(
    doc_terms: pd.DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    boosts: dict[str, float] | None = None,
) -> list[tuple[int, float]]:
    """Brute-force BM25 over a pandas (doc_id, terms:list[str]) frame; sums
    per-term contributions in sorted-term order (same as WAND). ``boosts``
    scales a term's idf exactly as ``Searcher.topk(boosts=...)`` does."""
    qs = sorted(set(query_terms))
    n = len(doc_terms)
    dls = doc_terms["terms"].map(len).to_numpy(dtype=np.int64)
    avgdl = float(dls.mean()) if n else 0.0
    ids = doc_terms["doc_id"].to_numpy(dtype=np.int64)
    scores = np.zeros(n, dtype=np.float64)
    for q in qs:
        tf = doc_terms["terms"].map(
            lambda ts: int((np.asarray(ts, dtype=object) == q).sum())
        ).to_numpy(dtype=np.int64)
        df = int((tf > 0).sum())
        if df == 0:
            continue
        w = idf(n, df) * float((boosts or {}).get(q, 1.0))
        mask = tf > 0
        scores[mask] += _contrib(tf[mask], dls[mask], w, avgdl, k1, b)
    hit = scores > 0
    rows = sorted(zip(ids[hit], scores[hit]), key=lambda e: (-e[1], e[0]))
    return [(int(d), float(s)) for d, s in rows[:k]]
