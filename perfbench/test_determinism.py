"""The benchmark's own checks: seeded inputs are reproducible, and the
Spark work each traced call schedules repeats exactly for a seed.

    python3 -m pytest perfbench/test_determinism.py -q

The span-count tests start a local Spark session (about two minutes).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402

SEED = 7


def all_inputs(seed: int) -> str:
    a, b = inputs.store_tables(seed, 2_000)
    rounds = [inputs.round_writes(seed, i, 2_000, shape)
              for shape in (inputs.TRICKLE, inputs.HISTORY)
              for i in range(6)]
    params = [inputs.query_params(seed, 300, 2_000, i) for i in range(4)]
    return "|".join([
        inputs.digest(a, b, inputs.orders_table(seed, 3_000, 300),
                      inputs.documents_table(seed, 300, 0.1),
                      inputs.embeddings_table(seed, 200, 16)),
        repr([(w.a_keys.tolist(), w.a_prices.tolist(), w.b_keys.tolist(),
               w.b_delta, w.b_first) for w in rounds]),
        repr(params),
    ])


def test_same_seed_gives_identical_inputs():
    assert all_inputs(SEED) == all_inputs(SEED)


def test_different_seed_gives_different_inputs():
    first, other = all_inputs(SEED).split("|"), all_inputs(SEED + 1).split("|")
    assert all(x != y for x, y in zip(first, other))


def test_planted_near_duplicates_clear_the_lsh_recall_level():
    """Every planted near-duplicate is at Jaccard >= 0.9 of 3-shingles
    with its source, the level k2's banding recall argument needs."""
    docs = inputs.documents_table(SEED, 400, 0.2).column("text").to_pylist()

    def shingles(t):
        toks = t.split(" ")
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    near = 0
    for i, t in enumerate(docs):
        last = t.split(" ")[-1]
        if not last.startswith("zz"):
            continue
        s = shingles(t)
        best = max(len(s & shingles(u)) / len(s | shingles(u))
                   for u in docs[:i])
        assert best >= 0.9, (i, best)
        near += 1
    assert near > 10


def test_write_rounds_follow_the_schedule():
    for i in range(10):
        w = inputs.round_writes(SEED, i, 40_000, inputs.TRICKLE)
        both = i % 5 == 0
        assert (len(w.a_keys) > 0) == (both or i % 5 in (1, 3))
        assert (len(w.b_keys) > 0) == (both or i % 5 in (2, 4))
        assert max(len(w.a_keys), len(w.b_keys)) == 40
        if both:
            assert len(set(w.a_keys) & set(w.b_keys)) == 20


# -- Spark: per-span work repeats for a seed -------------------------------

@pytest.fixture(scope="module")
def spark():
    scratch = os.path.join(os.path.dirname(HERE), ".bench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test-", dir=scratch)
    import run
    run.prepare_env(work)
    from cassandra_elasticsearch_sync_spark.session import get_spark
    session = get_spark(master=f"local[{run.cpus()}]")
    session.sparkContext.setLogLevel("ERROR")
    gateway = session.sparkContext._gateway
    yield session, work
    run.stop_spark(session, gateway)
    shutil.rmtree(work, ignore_errors=True)


def traced_signature(spark, work, name: str, steps: int):
    import run
    from spans import Tracer
    tracer = Tracer(spark, enabled=True)
    wl = run.make_workload(name, spark, tracer, SEED,
                           tempfile.mkdtemp(dir=work))
    wl.setup(0)
    for i in range(steps):
        tracer.round = i
        wl.step()
    n_checks, bad = wl.check()
    tracer.finish()
    assert not bad
    return tracer.counts_signature()


@pytest.mark.parametrize("name,steps", [("sync_trickle", 3),
                                        ("query_mix", 4)])
def test_same_seed_repeats_span_work(spark, name, steps):
    session, work = spark
    first = traced_signature(session, work, name, steps)
    second = traced_signature(session, work, name, steps)
    assert first == second
    assert any(jobs for _, _, jobs, _, _ in first)
