"""Seeded synthetic crawl pages for the benchmark.

The generator belongs to the benchmark, not to the program: the program
only ever sees the parquet files written here. Pages follow the shape of
the engine's input table (url, warc_ts, html, text, lang): a Zipf head
vocabulary per language, a uniform tail of ``t####`` terms (about 30
postings each at the default sizes), HTML with script/style blocks and
entities, and a few empty pages. ``text`` is the exact output the
engine's extractor gives for ``html`` (tags dropped, entities decoded,
whitespace collapsed), so the oracle can tokenize ``text`` directly.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = {
    "en": (
        "the of and to in data index search query term document page web "
        "spark shard batch bulk kafka sink route retry flush offset commit "
        "stream crawl html text token score rank merge block skip list "
        "posting heap"
    ).split(),
    "de": (
        "der die das und zu daten index suche anfrage begriff dokument seite "
        "netz funke scherbe stapel masse strom kriechen text zeichen punkt "
        "rang"
    ).split(),
    "uk": (
        "індекс пошук запит термін документ сторінка дані потік текст знак "
        "оцінка ранг блок список купа злиття"
    ).split(),
}
LANGS = ["en"] * 6 + ["de"] * 3 + ["uk"]
TAIL_SHARE = 0.25
ENTITIES = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&nbsp;": "\xa0"}
_ENTITY_KEYS = list(ENTITIES)
SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def tail_vocab(n_pages: int) -> int:
    """Tail width giving ~30 postings per tail term (mean dl is ~70)."""
    return max(100, int(n_pages * 70 * TAIL_SHARE / 30))


def gen_rows(n: int, seed: int, tag: str, sentinel: str | None = None) -> list[tuple]:
    """``n`` pages as (url, warc_ts, html, text, lang) tuples. A pure
    function of its arguments. ``sentinel`` adds one page whose text holds
    that token, so a caller can tell when the page became searchable."""
    rng = np.random.default_rng(seed)
    n_tail = tail_vocab(n)
    base_ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    probs = {}
    for lang, vocab in VOCAB.items():
        p = 1.0 / np.arange(1, len(vocab) + 1)
        probs[lang] = p / p.sum()
    rows = []
    for i in range(n):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        url = f"https://h{int(rng.integers(0, 1000))}.example/{tag}/{lang}/p{i}"
        ts = base_ts + dt.timedelta(seconds=int(rng.integers(0, 86400 * 30)))
        if rng.random() < 0.02 and not (sentinel is not None and i == 0):
            rows.append((url, ts, b"", "", lang))
            continue
        nw = int(rng.integers(20, 110))
        vocab = VOCAB[lang]
        words = [vocab[j] for j in rng.choice(len(vocab), size=nw, p=probs[lang])]
        tail = rng.random(nw) < TAIL_SHARE
        tail_ids = rng.integers(0, n_tail, size=nw)
        words = [f"t{tail_ids[j]:04d}" if tail[j] else w for j, w in enumerate(words)]
        if sentinel is not None and i == 0:
            words.insert(1, sentinel)
        ent = rng.random(len(words)) < 0.03
        body = [_ENTITY_KEYS[j % len(_ENTITY_KEYS)] if e else w for j, (w, e) in enumerate(zip(words, ent))]
        title = " ".join(words[:4])
        paras = "".join(
            "<p>" + " ".join(body[j : j + 20]) + "</p>" for j in range(0, len(body), 20)
        )
        html = (
            f"<html><head><title>{title}</title><script>var x=1;</script>"
            f"<style>.a{{}}</style></head><body><h1>{title}</h1>{paras}</body></html>"
        )
        raw = " ".join([title, title] + [ENTITIES.get(w, w) for w in body])
        rows.append((url, ts, html.encode("utf-8"), " ".join(raw.split()), lang))
    return rows


def write_pages(rows: list[tuple], path: str, with_text: bool) -> str:
    """Write rows as one parquet file; ``with_text=False`` nulls ``text``
    (the raw-crawl shape, which makes the build run the extractor)."""
    cols = list(zip(*rows)) if rows else [[]] * 5
    text = list(cols[3]) if with_text else [None] * len(rows)
    table = pa.Table.from_arrays(
        [pa.array(cols[0]), pa.array(cols[1], SCHEMA.field("warc_ts").type),
         pa.array(cols[2], pa.binary()), pa.array(text, pa.string()),
         pa.array(cols[4])],
        schema=SCHEMA,
    )
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


def cached_rows(cache_dir: str, name: str, rows_fn) -> list[tuple]:
    """Rows of a named corpus, generated once per name and kept as parquet
    (the name carries the size and seed, so a cache hit is exact)."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"{name}.rows.parquet")
    if os.path.exists(path):
        t = pq.read_table(path)
        return list(zip(*(t.column(c).to_pylist() for c in SCHEMA.names)))
    rows = rows_fn()
    write_pages(rows, path, with_text=True)
    return rows


def input_file(cache_dir: str, name: str, rows: list[tuple], with_text: bool) -> str:
    """The parquet file the program reads for a named corpus."""
    path = os.path.join(cache_dir, f"{name}.{'text' if with_text else 'raw'}.parquet")
    if not os.path.exists(path):
        write_pages(rows, path, with_text)
    return path
