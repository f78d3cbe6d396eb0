"""Seeded, single-process input generation for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
always gives byte-identical files.  Inputs are cached under the work
directory keyed by workload, seed and size, and a ``_DONE`` marker is
written last, so an interrupted generation is redone rather than reused.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Part of every cache key: bump it when a generator's output changes, so
# stale cached inputs (and outputs checked against them) are not reused.
INPUT_VERSION = 2

# kg_build corpus: realistic boilerplate-stripped page sizes with planted
# near-duplicates and junk, so the quality, dedup and chunk-dedup stages
# all drop rows.
KG_PAGES = 150
PAGE_SENTENCES = (20, 60)
DUP_RATE = 0.1
JUNK_RATE = 0.1

# kg_build's incremental part (traced run only): new crawl shards
# streamed in after the batch build, one shard file per trigger; the
# batch count is a multiple of KG_EVERY so the last batch always rebuilds
# the snapshot.
STREAM_SHARD_PAGES = 20
STREAM_BATCHES = 3
KG_EVERY = 3

# query_mix: the row counts of the sf0.1 tables bench.py reads.
SF_ROWS = {
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "part": 20_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
# each headline query's full result is checked on a 1/50 copy (the timed
# pass runs df.count(), whose only output is the row count)
CHECK_FRACTION = 50

_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("red", "blue", "large", "small", "hot", "cold", "steel", "brass")
_PART_NOUN = ("bolt", "ring", "gear", "pipe", "nut", "valve", "plate", "rod")
_PART_TYPES = ("LARGE", "SMALL", "MEDIUM", "ECONOMY", "PROMO", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("view", "click", "purchase", "error", "scroll")

# search requests: entity- and topic-bearing strings, some of them
# follow-up questions (a different score threshold in search()).
_SEARCH_TERMS = (
    "Acme Corp", "Beta Systems", "Zeta Robotics", "Orion Bank", "Berlin",
    "Alice Turing", "Vega Cloud", "Quasar AI", "table join", "stream window",
    "vector query", "hash sort", "fast scan", "customer order", "batch merge",
)
_SEARCH_FORMS = (
    "{a}", "{a} {b}", "what is {a}", "how does {a} relate to {b}",
    "tell me more about {a}", "{a} and {b} data",
)


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w"):
        pass


def _write_aliases(path: str) -> None:
    from driftmind_spark.kernels.vocab import ALIASES

    pq.write_table(
        pa.table({"alias": list(ALIASES), "entity": list(ALIASES.values())}),
        os.path.join(path, "aliases.parquet"),
    )


def kg_corpus(cache: str, seed: int, n_pages: int = KG_PAGES) -> str:
    """``synth.write_corpus`` pages (20-60 sentences, planted dups and
    junk) plus the alias dictionary."""
    path = os.path.join(cache, f"kg_build-v{INPUT_VERSION}-s{seed}-n{n_pages}")
    if not _done(path):
        from driftmind_spark.synth import write_corpus

        _fresh(path)
        write_corpus(path, n=n_pages, seed=seed, min_sent=PAGE_SENTENCES[0],
                     max_sent=PAGE_SENTENCES[1], dup_rate=DUP_RATE,
                     junk_rate=JUNK_RATE)
        _mark_done(path)
    return path


def stream_shards(cache: str, seed: int, shard_pages: int = STREAM_SHARD_PAGES,
                  n_batches: int = STREAM_BATCHES) -> str:
    """``n_batches`` shard files of ``shard_pages`` pages each under
    ``<path>/pages``, with strictly increasing mtimes so a file stream
    with one file per trigger reads them in a fixed order."""
    if n_batches % KG_EVERY:
        raise ValueError(f"n_batches={n_batches} is not a multiple of "
                         f"kg_every={KG_EVERY}")
    path = os.path.join(cache, f"stream_ingest-v{INPUT_VERSION}-s{seed}-n{shard_pages}x{n_batches}")
    if not _done(path):
        from driftmind_spark.synth import generate_pages

        _fresh(path)
        os.makedirs(os.path.join(path, "pages"))
        for b in range(n_batches):
            pages, _ = generate_pages(
                shard_pages, seed=seed, start=b * shard_pages,
                min_sent=PAGE_SENTENCES[0], max_sent=PAGE_SENTENCES[1],
                dup_rate=DUP_RATE, junk_rate=JUNK_RATE,
            )
            f = os.path.join(path, "pages", f"part-{b:05d}.parquet")
            pq.write_table(pages, f)
            os.utime(f, (1_700_000_000 + b, 1_700_000_000 + b))
        _write_aliases(path)
        _mark_done(path)
    return path


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 31-word vocabulary, 10-100 words each, with
    sources round-robin over 20 blocks.  5% of the documents, and always
    the last one, are an earlier document of the same source plus one
    word: near-duplicates that the dedup family finds within a source
    block, on the small check copy too."""
    blocks = 20
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    dup_of = rng.random(n) < 0.05
    dup_of[-1] = True
    for i in range(n):
        if dup_of[i] and i >= blocks:
            back = int(rng.integers(1, i // blocks + 1))
            texts.append(texts[i - back * blocks] + " dup")
        else:
            words = rng.choice(len(_DOC_VOCAB), int(lengths[i]))
            texts.append(" ".join(_DOC_VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.asarray(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % blocks}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _timestamps(rng: np.random.Generator, n: int, start: str, days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")


def _dates(rng: np.random.Generator, n: int, start: str, days: int):
    return np.datetime64(start, "us") + (
        rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")


def _pick(rng: np.random.Generator, values, n: int) -> np.ndarray:
    return np.asarray(values)[rng.integers(0, len(values), n)]


def _sf_tables(rng: np.random.Generator, scale: int) -> dict[str, pa.Table]:
    """TPC-H-shaped tables with the schemas of the sf test data, at
    ``SF_ROWS / scale`` rows."""
    n = {k: max(1, v // scale) for k, v in SF_ROWS.items()}
    nc, no, nl, np_ = n["customer"], n["orders"], n["lineitem"], n["part"]
    cust = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        # a third of the customers never order, so the anti-join is not empty
        "o_custkey": pa.array(rng.integers(0, max(1, nc * 2 // 3), no), pa.int64()),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), no),
        "o_totalprice": np.round(rng.uniform(900, 500_000, no), 2),
        "o_orderdate": _dates(rng, no, "1992-01-01", 3500),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("O", "F"), nl),
        "l_shipdate": _dates(rng, nl, "1992-01-01", 3600),
    })
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    part = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": _pick(rng, part_names, np_),
        "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], np_),
        "p_type": _pick(rng, _PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 2),
    })
    ne = n["events"]
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": np.sort(_timestamps(rng, ne, "2024-01-01", 30)),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": np.round(rng.exponential(30.0, ne), 2),
        "props": _pick(rng, [f'{{"k": {k}}}' for k in range(100)], ne),
    })
    nv = n["embeddings"]
    vecs = rng.normal(size=(nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return {
        "customer": cust, "orders": orders, "lineitem": lineitem,
        "part": part, "events": events,
        "documents": _documents(rng, n["documents"]),
        "embeddings": embeddings,
    }


def sf_dir(cache: str, seed: int, scale: int = 1) -> str:
    """The query_mix tables at sf0.1 row counts divided by ``scale``
    (``scale=CHECK_FRACTION`` gives the result-check copy), one parquet
    file per table like the sf test data."""
    path = os.path.join(cache, f"query_mix-v{INPUT_VERSION}-s{seed}-d{scale}")
    if not _done(path):
        _fresh(path)
        rng = np.random.default_rng([seed, scale])
        for name, table in _sf_tables(rng, scale).items():
            pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        _mark_done(path)
    return path


def search_queries(seed: int, n: int) -> list[str]:
    """``n`` seeded search request strings."""
    rng = np.random.default_rng([seed, 7])
    out = []
    for _ in range(n):
        a, b = rng.choice(len(_SEARCH_TERMS), 2, replace=False)
        form = _SEARCH_FORMS[int(rng.integers(0, len(_SEARCH_FORMS)))]
        out.append(form.format(a=_SEARCH_TERMS[a], b=_SEARCH_TERMS[b]))
    return out
