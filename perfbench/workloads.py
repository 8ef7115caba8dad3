"""The benchmark's workloads. Each one is closed loop with one client:

- ``setup(rep)`` builds a fresh copy of the workload's state under
  ``workdir/rep<rep>`` from the seed (the runner times several of these
  and keeps the last);
- ``step()`` runs the next unit of the loop and returns its samples
  (the runner runs ``warm_steps`` untimed steps before the timed loop,
  and times whole periods of ``period`` steps, the length of the
  workload's repeating schedule);
- ``check()`` runs after the timed loop and returns how many checks it
  made and the failures, each a one-line cause.

All calls into the package go through ``Tracer`` spans, so the traced
run attributes every Spark job to the call that scheduled it.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark import registry
from cassandra_elasticsearch_sync_spark.sources.cql_query import cql_select
from cassandra_elasticsearch_sync_spark.sources.cql_write import (
    apply_cql_writes,
    parse_cql_dml,
)
from cassandra_elasticsearch_sync_spark.sources.es_query import (
    es_aggregate,
    es_search,
)
from cassandra_elasticsearch_sync_spark.sources.es_write import (
    es_update_by_query,
)
from cassandra_elasticsearch_sync_spark.sync.engine import AcidStore, SyncEngine

import acidfs
import inputs
from model import SyncModel, frame_diff, store_frame
from spans import TracedStore, Tracer


def run_query(tracer: Tracer, kind: str, build, fetch=None):
    """Build a DataFrame, plan it and fetch its result, each step a span
    under one ``kind`` span. Returns (result, seconds, columns)."""
    t0 = time.perf_counter()
    with tracer.span(kind):
        with tracer.span(f"{kind}.compile"):
            df = build()
        with tracer.span(f"{kind}.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span(f"{kind}.execute"):
            out = fetch(df) if fetch else df.collect()
    return out, time.perf_counter() - t0, df.columns


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(v)
    return str(v)


def result_hash(rows, cols) -> tuple[int, str]:
    """Order-insensitive hash of a result: cells stringified exactly
    (floats by repr), columns in name order, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    return len(norm), hashlib.sha256("\x1e".join(norm).encode()).hexdigest()


# -- sync workloads ---------------------------------------------------------

class SyncWorkload:
    """Two ACID stores - "Cassandra" (A, written through CQL DML) and
    "ES" (B, written through ``_update_by_query``) - seeded from the
    generated snapshots and bootstrapped with ``full_sync``. A step is
    one round: the application writes, then one ledger-on
    ``incremental_cycle`` ships the writes and its ledger row is read
    back."""

    # Two untimed periods of rounds: rounds keep getting faster while
    # the JIT warms (after five warm-up rounds, the next five still ran
    # up to 20% slower than the five after them; after ten they level
    # off).
    warm_steps = 10

    def __init__(self, spark, tracer: Tracer, seed: int, workdir: str,
                 shape: inputs.SyncShape, n_keys: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.workdir, self.shape, self.n_keys = workdir, shape, n_keys
        # Any ``both_every`` consecutive rounds hold one two-sided round.
        self.period = shape.both_every

    def setup(self, rep: int) -> None:
        root = os.path.join(self.workdir, f"rep{rep}")
        os.makedirs(root)
        self.side_a, self.side_b = inputs.store_tables(self.seed, self.n_keys)
        for name, t in (("a", self.side_a), ("b", self.side_b)):
            pq.write_table(t, os.path.join(root, f"{name}.parquet"))
        self.a = AcidStore(self.spark, os.path.join(root, "store_a"))
        self.b = AcidStore(self.spark, os.path.join(root, "store_b"))
        for store, name in ((self.a, "a"), (self.b, "b")):
            with self.tracer.span("acid.init"):
                store.table.init(self.spark.read.parquet(
                    os.path.join(root, f"{name}.parquet")))
        self.engine = SyncEngine(
            self.spark, TracedStore(self.a, self.tracer),
            TracedStore(self.b, self.tracer),
            os.path.join(root, "state"), record_ledger=True)
        with self.tracer.span("engine.full_sync"):
            self.engine.full_sync()
        self.base = {r: acidfs.head_version(r)
                     for r in (self.a.table.root, self.b.table.root)}
        self.clock = inputs.WriteClock()
        self.rounds: list[list[tuple]] = []  # each round's writes, for the model
        self.ledger_rows: list[dict] = []    # each round's ledger row
        self.rows_written = 0

    def write_a(self, keys, prices) -> tuple[float, tuple]:
        stamps = self.clock.take(len(keys))
        stmts = [f"UPDATE kv SET price = {inputs.price_literal(p)}, "
                 f"version = '{inputs.ts_literal(v)}', side = 'a' "
                 f"WHERE key = {int(k)}"
                 for k, p, v in zip(keys, prices, stamps)]
        t0 = time.perf_counter()
        with self.tracer.span("cql_write.parse"):
            parsed = [w for s in stmts for w in parse_cql_dml(s, ["key"])]
        with self.tracer.span("cql_write.apply"):
            apply_cql_writes(self.a.table, ["key"], [], parsed=parsed)
        dt = time.perf_counter() - t0
        self.rows_written += len(keys)
        return dt, ("a", keys, prices, stamps)

    def write_b(self, keys, delta) -> tuple[float, tuple]:
        stamp = int(self.clock.take(1)[0])
        script = (f"ctx._source.price = ctx._source.price + "
                  f"{inputs.price_literal(delta)}; "
                  f"ctx._source.version = '{inputs.ts_literal(stamp)}'; "
                  "ctx._source.side = 'b'")
        query = {"terms": {"key": [int(k) for k in keys]}}
        t0 = time.perf_counter()
        with self.tracer.span("es_write.update_by_query"):
            resp = es_update_by_query(self.b.table, query, script=script)
        dt = time.perf_counter() - t0
        self.rows_written += resp["updated"]
        return dt, ("b", keys, delta, stamp, resp["updated"])

    def step(self) -> dict:
        w = inputs.round_writes(self.seed, len(self.rounds), self.n_keys,
                                self.shape)
        calls = [("a", w.a_keys), ("b", w.b_keys)]
        if w.b_first:
            calls.reverse()
        write_s, done = [], []
        self.rounds.append(done)
        for side, keys in calls:
            if len(keys) == 0:
                continue
            dt, rec = (self.write_a(keys, w.a_prices) if side == "a"
                       else self.write_b(keys, w.b_delta))
            write_s.append(dt)
            done.append(rec)
        t_w = time.perf_counter()
        with self.tracer.span("engine.cycle"):
            shipped = self.engine.incremental_cycle()
        t_c = time.perf_counter()
        cycle_no = len(self.engine.ledger)
        with self.tracer.span("engine.ledger"):
            row = (self.engine.ledger_df()
                   .filter(F.col("cycle") == cycle_no).collect())
        t_l = time.perf_counter()
        self.ledger_rows.append(row[0].asDict() if row else {})
        return {"write_s": write_s, "cycle_s": t_c - t_w,
                "lag_s": t_l - t_w, "shipped": shipped,
                "ops": len(write_s) + 2}

    def check(self) -> tuple[int, list[str]]:
        """The model replays the engine's history - round k's writes,
        then cycle k - and must agree on every update_by_query count,
        every ledger row's ship counts and both final stores."""
        bad = []
        model = SyncModel(self.side_a, self.side_b)
        model.full_sync()
        for i, writes in enumerate(self.rounds):
            for rec in writes:
                if rec[0] == "a":
                    model.write_a(*rec[1:])
                    continue
                hit = model.write_b(*rec[1:4])
                if hit != rec[4]:
                    bad.append(f"round {i}: update_by_query updated "
                               f"{rec[4]} docs, model matched {hit}")
            model.cycle()
        for i, (got, want) in enumerate(zip(self.ledger_rows, model.ledger)):
            g = {c: got.get(c) for c in want}
            if g != want:
                bad.append(f"round {i} ledger: {g} != model {want}")
        if not self.engine.in_sync():
            bad.append("in_sync() is false after the last cycle")
        cols = ["key", "price", "version", "side"]
        got_a, _, _ = run_query(
            self.tracer, "cql_query",
            lambda: cql_select(self.a.read(),
                               f"SELECT {', '.join(cols)} FROM kv"),
            fetch=lambda df: df.toPandas())
        got_b, _, _ = run_query(
            self.tracer, "es_query",
            lambda: es_search(self.b.read(), {"match_all": {}}).select(*cols),
            fetch=lambda df: df.toPandas())
        for name, got, want in (("A", got_a, model.a), ("B", got_b, model.b)):
            diff = frame_diff(store_frame(got), want)
            if diff:
                bad.append(f"store {name} != model: {diff}")
        n_checks = (3 + len(self.ledger_rows)
                    + sum(r[0] == "b" for rs in self.rounds for r in rs))
        return n_checks, bad

    def acid_counters(self) -> dict:
        roots = list(self.base)
        commits = [acidfs.commits_since(r, v) for r, v in self.base.items()]
        layout = acidfs.live_layout(roots)
        shipped = sum(r.get("shipped_a", 0) + r.get("shipped_b", 0)
                      for r in self.ledger_rows)
        rows = self.rows_written + shipped
        fr = [f for c in commits for f in c["rewrite_fractions"]]
        return {
            "acid.rewrite_fraction": float(np.median(fr)) if fr else 0.0,
            "acid.bytes_written_per_row":
                sum(c["added_bytes"] for c in commits) / max(rows, 1),
            "acid.live_files": layout["files"],
            "acid.bytes_per_live_row": layout["bytes"] / max(layout["rows"], 1),
        }


# -- query mix ----------------------------------------------------------------

def _in(vals) -> str:
    return ", ".join(repr(v) if isinstance(v, str) else str(v) for v in vals)


def _templates():
    """(name, layer, build(o, t, p), DuckDB twin(p)). ``o`` is the
    orders corpus, ``t`` the ACID table the sync history left behind."""
    return [
        ("es_bool", "es_query",
         lambda o, t, p: es_search(o, {"bool": {
             "must": [{"terms": {"o_orderstatus": p["status"]}},
                      {"range": {"o_totalprice": {"gte": p["price_lo"],
                                                  "lt": p["price_hi"]}}}],
             "must_not": [{"term": {"o_orderpriority": p["not_prio"]}}]}})
         .select("o_orderkey", "o_totalprice"),
         lambda p: f"""SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_orderstatus IN ({_in(p['status'])})
               AND o_totalprice >= {p['price_lo']}
               AND o_totalprice < {p['price_hi']}
               AND o_orderpriority <> '{p['not_prio']}'"""),
        ("es_terms_agg", "es_query",
         lambda o, t, p: es_aggregate(
             es_search(o, {"range": {"o_totalprice": {
                 "gte": p["agg_price_lo"]}}}),
             {"by_prio": {"terms": {"field": "o_orderpriority", "size": 3},
                          "aggs": {"mx": {"max": {"field": "o_totalprice"}}}}}),
         lambda p: f"""SELECT o_orderpriority AS key, COUNT(*) AS doc_count,
                   MAX(o_totalprice) AS mx FROM orders
             WHERE o_totalprice >= {p['agg_price_lo']}
             GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 3"""),
        ("es_date_histogram", "es_query",
         lambda o, t, p: es_aggregate(
             es_search(o, {"term": {"o_orderstatus": p["one_status"]}}),
             {"per_month": {"date_histogram": {"field": "o_orderdate",
                                               "calendar_interval": "month"},
                            "aggs": {"n": {"value_count":
                                           {"field": "o_orderkey"}}}}}),
         lambda p: f"""SELECT STRFTIME(DATE_TRUNC('month', o_orderdate),
                                  '%Y-%m') AS key,
                   COUNT(*) AS doc_count, COUNT(o_orderkey) AS n
             FROM orders WHERE o_orderstatus = '{p['one_status']}'
             GROUP BY 1"""),
        ("es_acid_range", "es_query",
         lambda o, t, p: es_search(t.read(), {"range": {"key": {
             "gte": p["key_lo"], "lt": p["key_hi"]}}})
         .select("key", "price", "version", "side"),
         lambda p: f"""SELECT key, price, version, side FROM kv
             WHERE key >= {p['key_lo']} AND key < {p['key_hi']}"""),
        ("cql_partition_slice", "cql_query",
         lambda o, t, p: cql_select(o, f"""SELECT o_orderkey, o_totalprice
             FROM orders WHERE o_custkey = {p['cust']}
             AND o_orderdate >= '{p['day_lo']} 00:00:00'"""),
         lambda p: f"""SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = {p['cust']}
               AND o_orderdate >= TIMESTAMP '{p['day_lo']} 00:00:00'"""),
        ("cql_group_by", "cql_query",
         lambda o, t, p: cql_select(o, f"""SELECT o_custkey,
             count(*) AS n, max(o_totalprice) AS mx FROM orders
             WHERE o_custkey IN ({_in(p['custs'])}) GROUP BY o_custkey"""),
         lambda p: f"""SELECT o_custkey, COUNT(*) AS n,
                   MAX(o_totalprice) AS mx FROM orders
             WHERE o_custkey IN ({_in(p['custs'])}) GROUP BY o_custkey"""),
        ("cql_allow_filtering", "cql_query",
         lambda o, t, p: cql_select(o, f"""SELECT o_orderkey, o_custkey,
             o_totalprice FROM orders WHERE o_totalprice > {p['filter_price']}
             ALLOW FILTERING"""),
         lambda p: f"""SELECT o_orderkey, o_custkey, o_totalprice
             FROM orders WHERE o_totalprice > {p['filter_price']}"""),
        ("cql_acid_keys", "cql_query",
         lambda o, t, p: cql_select(t.read(), f"""SELECT key, price, version
             FROM kv WHERE key IN ({_in(p['keys'])})"""),
         lambda p: f"""SELECT key, price, version FROM kv
             WHERE key IN ({_in(p['keys'])})"""),
    ]


PIPELINE = (("exact_dedup", "k1_exact_dedup"),
            ("minhash_lsh", "k2_minhash_lsh_pairs"),
            ("cosine_topk", "k3_cosine_topk"),
            ("tfidf", "k4_tfidf"),
            ("jpeg_decode", "k6f_jpeg_pixel_decode"))


class QueryMix:
    """Read-only stream over the generated corpus: seeded ES DSL
    searches/aggregations and CQL SELECTs (on the orders corpus and on
    the ACID table a seeded sync history leaves behind), and passes of
    the LLM-data pipeline operators over the generated documents and
    embeddings.

    Set-up generates the corpus and bootstraps the history's stores.
    Steps then follow ``SCHEDULE``: the history's one round of writes
    and its sync cycle, then template passes (every template once, with
    fresh parameters) and pipeline passes, two to one: the gated query
    median needs samples, and a pipeline pass takes three times as
    long. The first ``warm_steps`` steps (the history round and two
    periods: T, T, P, T, T, P) are the untimed warm-up: after one
    period, the next pipeline pass still ran up to 40% slower than
    later ones."""

    SCHEDULE = ("template", "template", "pipeline")
    period = len(SCHEDULE)
    warm_steps = 1 + 2 * period

    def __init__(self, spark, tracer: Tracer, seed: int, workdir: str,
                 n_orders: int, n_cust: int, n_docs: int, dup_share: float,
                 n_vecs: int, n_keys: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.workdir = workdir
        self.n_orders, self.n_cust = n_orders, n_cust
        self.n_docs, self.dup_share, self.n_vecs = n_docs, dup_share, n_vecs
        self.n_keys = n_keys
        self.templates = _templates()
        self.queries = registry.queries()

    def setup(self, rep: int) -> None:
        root = os.path.join(self.workdir, f"rep{rep}")
        self.sf_dir = os.path.join(root, "sf")
        os.makedirs(self.sf_dir)
        for name, t in (
                ("orders", inputs.orders_table(self.seed, self.n_orders,
                                               self.n_cust)),
                ("documents", inputs.documents_table(self.seed, self.n_docs,
                                                     self.dup_share)),
                ("embeddings", inputs.embeddings_table(self.seed,
                                                       self.n_vecs, 64))):
            pq.write_table(t, os.path.join(self.sf_dir, f"{name}.parquet"))
        self.orders = self.spark.read.parquet(
            os.path.join(self.sf_dir, "orders.parquet"))
        self.history = SyncWorkload(self.spark, self.tracer, self.seed,
                                    os.path.join(root, "history"),
                                    inputs.HISTORY, self.n_keys)
        self.history.setup(0)
        self.table = TracedStore(self.history.a, self.tracer)
        self.results: list[tuple] = []   # (name, params, rows, cols)
        self.steps = self.passes = 0

    def step(self) -> dict:
        k, self.steps = self.steps, self.steps + 1
        if k == 0:
            return self.history.step()
        if self.SCHEDULE[(k - 1) % len(self.SCHEDULE)] == "template":
            return self._template_pass()
        return self._pipeline_pass()

    def _template_pass(self) -> dict:
        p = inputs.query_params(self.seed, self.n_cust, self.n_keys,
                                self.passes)
        self.passes += 1
        lat = []
        for name, layer, build, _ in self.templates:
            rows, dt, cols = run_query(
                self.tracer, layer,
                lambda b=build: b(self.orders, self.table, p))
            lat.append(dt)
            self.results.append((name, p, rows, cols))
        return {"query_s": lat, "ops": len(lat)}

    def _pipeline_pass(self) -> dict:
        t0 = time.perf_counter()
        for short, qname in PIPELINE:
            with self.tracer.span(f"pipeline.{short}"):
                df = self.queries[qname](self.spark, self.sf_dir)
                rows = df.collect()
            self.results.append((qname, None, rows, df.columns))
        return {"pass_s": time.perf_counter() - t0, "docs": self.n_docs,
                "ops": len(PIPELINE)}

    def check(self) -> tuple[int, list[str]]:
        n_hist, hist_bad = self.history.check()
        bad = [f"sync history: {b}" for b in hist_bad]
        con = duckdb.connect()
        for t in ("orders", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf_dir, t + '.parquet')}')")
        files = acidfs.live_files(self.history.a.table.root)
        con.execute(f"CREATE VIEW kv AS SELECT * FROM read_parquet({files!r})")
        twins = {name: twin for name, _, _, twin in self.templates}
        oracle = registry.oracle_sql()
        cache: dict[str, tuple] = {}
        for name, p, rows, cols in self.results:
            sql = twins[name](p) if p is not None else oracle[name]
            if sql not in cache:
                rel = con.execute(sql)
                cache[sql] = result_hash(rel.fetchall(),
                                         [d[0] for d in rel.description])
            got = result_hash(rows, cols)
            if got != cache[sql]:
                bad.append(f"{name}: {got[0]} rows, hash {got[1][:12]} != "
                           f"DuckDB twin {cache[sql][0]} rows, "
                           f"{cache[sql][1][:12]}")
        con.close()
        return n_hist + len(self.results), bad

    def acid_counters(self) -> dict:
        return self.history.acid_counters()
