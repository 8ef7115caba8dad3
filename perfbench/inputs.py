"""Seeded input generation for the benchmark. Pure numpy/pyarrow: no
Spark, no clocks, no package imports, so the same seed always gives
byte-identical inputs (``test_determinism.py`` pins that).

Three kinds of input:

- the two sync stores' initial snapshots (``store_tables``): side A is
  the "Cassandra" table holding every key, side B the "ES" index
  holding most keys, with locally edited prices/versions on a share of
  them, so the ``full_sync`` bootstrap has real LWW work to do;
- per-round application writes (``round_writes``): which keys each
  side rewrites and with what, drawn from ``(seed, round)`` so a run
  that completes more rounds extends the same sequence;
- the read corpus (``orders_table``, ``documents_table``,
  ``embeddings_table``) and the query parameters (``query_params``).

Every application write is stamped from one monotonic write clock
(``WriteClock``) that starts after every seeded version: the engine
only ships rows at or above its watermark, so a stale stamp would be
silently ignored rather than synced.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

US = 1_000_000
# Seeded versions fall in [1992, 1999); application writes start here.
_V0 = int(np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64))
_V_SPAN = 7 * 365 * 86400 * US
WRITE_CLOCK_START = int(np.datetime64("2030-01-01T00:00:00", "us")
                        .astype(np.int64))
WRITE_CLOCK_STEP = 1000  # 1 ms between stamped writes

_VOCAB = (
    "spark stream table row column key value merge sync index query "
    "scan filter join sort group window batch data order line part hash "
    "vector fast slow big small the a agg customer cluster shard replica "
    "commit snapshot delta ledger lag frontier watermark"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_STATUS = ("F", "O", "P")


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) tuple."""
    return np.random.default_rng([seed, *stream])


def ts_literal(us: int) -> str:
    """A version stamp as the ISO literal CQL/Painless writes carry."""
    return str(np.datetime64(int(us), "us")).replace("T", " ")


def price_literal(x: float) -> str:
    return repr(float(x))


# -- sync stores ----------------------------------------------------------

def store_tables(seed: int, n_keys: int) -> tuple[pa.Table, pa.Table]:
    """Initial snapshots of side A (all keys) and side B (~85% of keys,
    a third of them locally edited: newer version, different price).
    Schema: key bigint, price double, version timestamp, side string."""
    r = rng_for(seed, 1)
    keys = np.arange(1, n_keys + 1, dtype=np.int64)
    price_a = np.round(r.uniform(900.0, 500_000.0, n_keys), 2)
    ver_a = _V0 + r.integers(0, _V_SPAN, n_keys)
    in_b = r.random(n_keys) < 0.85
    edited = r.random(n_keys) < 0.33
    price_b = np.where(edited, np.round(price_a * 1.1, 2), price_a)
    # An edit on B is newer by up to 30 days; the rest of B is older by
    # up to 30 days, so LWW picks A there (bootstrap ships both ways).
    shift = r.integers(1, 30 * 86400 * US, n_keys)
    ver_b = np.where(edited, ver_a + shift, ver_a - shift)

    def table(k, p, v, side):
        return pa.table({
            "key": pa.array(k, pa.int64()),
            "price": pa.array(p, pa.float64()),
            "version": pa.array(v.astype("datetime64[us]"),
                                pa.timestamp("us")),
            "side": pa.array([side] * len(k), pa.string()),
        })

    return (table(keys, price_a, ver_a, "a"),
            table(keys[in_b], price_b[in_b], ver_b[in_b], "b"))


@dataclass
class RoundWrites:
    """One round of application writes. ``a_keys``/``a_prices``: CQL
    UPDATEs on store A, one statement per key. ``b_keys``/``b_delta``:
    one ES ``_update_by_query`` on store B adding ``b_delta`` to every
    matched document's price. ``b_first`` orders the two calls (and so
    their stamps) in rounds that write both sides."""
    a_keys: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    a_prices: np.ndarray = field(default_factory=lambda: np.empty(0))
    b_keys: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    b_delta: float = 0.0
    b_first: bool = False


@dataclass(frozen=True)
class SyncShape:
    """How a sync workload's rounds write. ``share``: fraction of keys
    each writing side rewrites per round; ``both_every``: every
    ``both_every``-th round (from round 0) writes both sides, the others
    alternate A, B, A, ...; ``overlap``: fraction of B's keys also
    written by A in two-sided rounds (the LWW conflicts)."""
    share: float
    both_every: int
    overlap: float


TRICKLE = SyncShape(share=0.001, both_every=5, overlap=0.5)
HISTORY = SyncShape(share=0.01, both_every=1, overlap=0.5)


def round_writes(seed: int, rnd: int, n_keys: int,
                 shape: SyncShape) -> RoundWrites:
    r = rng_for(seed, 2, rnd)
    n = max(1, int(round(n_keys * shape.share)))
    phase = rnd % shape.both_every
    both = phase == 0
    a_side = both or phase % 2 == 1
    b_side = both or not a_side
    w = RoundWrites(b_first=bool(both and r.random() < 0.5))
    picked = r.choice(n_keys, size=2 * n, replace=False).astype(np.int64) + 1
    a_keys = np.sort(picked[:n])
    if a_side:
        w.a_keys = a_keys
        w.a_prices = np.round(r.uniform(900.0, 500_000.0, n), 2)
    if b_side:
        if both:
            n_ov = int(round(n * shape.overlap))
            b_keys = np.concatenate([a_keys[:n_ov], picked[n:2 * n - n_ov]])
        else:
            b_keys = picked[n:]
        w.b_keys = np.sort(b_keys)
        w.b_delta = float(np.round(r.uniform(0.5, 99.5), 2))
    return w


class WriteClock:
    """Monotonic version stamps for application writes."""

    def __init__(self, start: int = WRITE_CLOCK_START):
        self.next_us = start

    def take(self, n: int) -> np.ndarray:
        out = self.next_us + WRITE_CLOCK_STEP * np.arange(n, dtype=np.int64)
        self.next_us += WRITE_CLOCK_STEP * n
        return out


# -- read corpus ------------------------------------------------------------

def orders_table(seed: int, n_orders: int, n_cust: int) -> pa.Table:
    """An orders-shaped corpus (the schema the ES/CQL compilers'
    registered tables use)."""
    r = rng_for(seed, 3)
    date0 = int(np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64))
    days = r.integers(0, 7 * 365, n_orders)
    return pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1) * 4, pa.int64()),
        "o_custkey": pa.array(r.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(_STATUS)[r.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(r.uniform(900.0, 500_000.0,
                                                    n_orders), 2)),
        "o_orderdate": pa.array((date0 + days * 86400 * US)
                                .astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(_PRIOS)[r.integers(0, 5,
                                                                n_orders)]),
    })


def documents_table(seed: int, n_docs: int, dup_share: float) -> pa.Table:
    """Word documents with planted duplicates. A ``dup_share`` of the
    documents copy an earlier one: half exactly (modulo case and outer
    whitespace, which ``k1``'s normalisation folds), half as a
    near-duplicate whose last token is replaced. A document of n >= 30
    tokens has n-2 distinct 3-shingles almost surely, so one replaced
    token changes at most one shingle: Jaccard >= 27/29 > 0.9, the
    level at which ``k2``'s LSH banding recall is 1 - 4e-8. Unrelated
    documents share almost no 3-shingles (Jaccard far below 0.7)."""
    r = rng_for(seed, 4)
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < dup_share:
            src = texts[int(r.integers(0, i))]
            if r.random() < 0.5:
                texts.append("  " + src.upper() + " " if r.random() < 0.5
                             else src)
            else:
                toks = src.split(" ")
                toks[-1] = "zz" + str(int(r.integers(0, 10**6)))
                texts.append(" ".join(toks))
        else:
            n = int(r.integers(30, 90))
            texts.append(" ".join(vocab[r.integers(0, len(vocab), n)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(_LANGS)[r.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{int(x)}" for x in r.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n_vecs: int, dim: int) -> pa.Table:
    r = rng_for(seed, 5)
    emb = r.standard_normal((n_vecs, dim)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32()),
    })


def query_params(seed: int, n_cust: int, n_keys: int, i: int) -> dict:
    """Parameters for the i-th pass over the query templates. Ranges are
    fixed-width, so each template selects about the same share of rows
    under every seed: the seed changes which rows, not how many."""
    r = rng_for(seed, 6, i)
    lo = float(np.round(r.uniform(900.0, 440_000.0), 2))
    k0 = int(r.integers(1, n_keys - 200))
    return {
        "status": [str(s) for s in r.choice(_STATUS, 2, replace=False)],
        "price_lo": lo,
        "price_hi": lo + 50_000.0,
        "not_prio": str(r.choice(_PRIOS)),
        "agg_price_lo": float(np.round(r.uniform(100_000.0, 150_000.0), 2)),
        "one_status": str(r.choice(_STATUS)),
        "cust": int(r.integers(1, n_cust + 1)),
        "day_lo": str(np.datetime64("1992-01-01")
                      + int(r.integers(0, 3 * 365))),
        "custs": sorted(int(c) for c in r.choice(n_cust, 12, replace=False) + 1),
        "filter_price": float(np.round(r.uniform(470_000.0, 480_000.0), 2)),
        "key_lo": k0,
        "key_hi": k0 + 200,
        "keys": sorted(int(k) for k in r.choice(n_keys, 16, replace=False) + 1),
    }


def digest(*tables: pa.Table) -> str:
    """Content hash of generated tables (column names, types, values)."""
    h = hashlib.sha256()
    for t in tables:
        h.update(str(t.schema).encode())
        for col in t.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()
