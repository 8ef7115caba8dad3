"""Sync-first benchmark for cassandra_elasticsearch_sync_spark.

    python3 perfbench/run.py --workload sync_trickle --seed 1 \
        --seconds 14 --trace 0

Run from the repository root. One Python process drives Spark
``local[N]`` with N = the CPUs this process may use, on the package's
session defaults (``get_spark`` with only the master set). Inputs come from
``--seed``; every file the run writes (inputs, stores, Spark scratch)
lives under ``.bench_work/`` in the current directory and is removed at
exit; ``--trace 1`` leaves its span log under ``.bench_out/``.

Set-up is repeated ``SETUP_REPS`` times (the first one is cold) and the
last copy is used, then the workload's ``warm_steps`` untimed steps run;
``setup_s`` is session start-up plus the median repetition plus the
warm-up. The timed loop then runs workload steps, closed loop with
one client, until ``--seconds`` have passed and the steps taken make
whole periods of the workload's schedule (``wl.period``), so every run
measures the same mix of step kinds. Each step also records the share
of the machine's CPU time the host took from it (steal, ``/proc/stat``);
the gated figures leave out the steps with ``STEAL_LIMIT`` or more of
it (see ``undisturbed``). After the loop, the correctness checks run.
Stdout carries a report of every workload-specific metric and, as its
last line, one JSON object:

- ``--trace 0``: the end-to-end metrics in ``BENCHMARK.json``;
- ``--trace 1``: the per-layer metrics in ``BENCHMARK.json``, from
  spans around every call into the package (see ``spans.py``).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
# A step the host took this share of the machine's CPU time or more
# from (steal) is left out of the gated figures: at 4-18% steal a
# round's sync lag read 1.2-2.3 times its value in runs under 1.5%.
STEAL_LIMIT = 0.02
WORKLOADS = ("sync_trickle", "query_mix")
# Input sizes (recorded in meta.json, with why sync_trickle's stores
# hold 40k keys rather than sf0.1's 150k). The orders corpus follows
# sf0.1 (150k orders, 15k customers).
SYNC_KEYS = 40_000
QUERY_SIZES = dict(n_orders=150_000, n_cust=15_000, n_docs=1_000,
                   dup_share=0.10, n_vecs=1_000, n_keys=10_000)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # For every JVM spark-submit starts (its launcher too).
    # PerfDisableSharedMem: a JVM would otherwise write its perf counters
    # to /tmp/hsperfdata_<user>, whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem")


class RssSampler:
    """Peak resident memory of this process plus Spark's JVM and its
    Python workers, sampled every 200 ms while running."""

    def __init__(self, root_pids: list[int]):
        self.root_pids = root_pids
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out = [pid]
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    for c in fh.read().split():
                        out += RssSampler._tree(int(c))
        except OSError:
            pass
        return out

    @staticmethod
    def _rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def _sample(self) -> None:
        pids = {p for r in self.root_pids for p in self._tree(r)}
        self.peak = max(self.peak, sum(self._rss(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark, gateway) -> None:
    """Stop the session and wait for Spark's JVM to exit (it exits
    when its stdin closes; its Python workers go with it)."""
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def environment(spark) -> str:
    """The settings a result depends on, as one report line."""
    import pyarrow
    conf = spark.conf
    jvm = spark.sparkContext._jvm.System.getProperty("java.version")
    return (f"env: nproc={cpus()} master={spark.sparkContext.master} "
            f"spark={spark.version} java={jvm} pyarrow={pyarrow.__version__} "
            f"shuffle.partitions={conf.get('spark.sql.shuffle.partitions')} "
            f"adaptive={conf.get('spark.sql.adaptive.enabled')} "
            "coalescePartitions="
            f"{conf.get('spark.sql.adaptive.coalescePartitions.enabled')}")


def make_workload(name: str, spark, tracer, seed: int, work: str):
    import inputs
    import workloads
    if name == "sync_trickle":
        return workloads.SyncWorkload(spark, tracer, seed, work,
                                      inputs.TRICKLE, SYNC_KEYS)
    return workloads.QueryMix(spark, tracer, seed, work, **QUERY_SIZES)


def undisturbed(steps: list[dict]) -> list[dict]:
    """Per kind of step (its place in the period): the steps under
    ``STEAL_LIMIT`` host steal, or all of the kind's steps when none is."""
    out = []
    for kind in sorted({s["kind"] for s in steps}):
        same = [s for s in steps if s["kind"] == kind]
        out += [s for s in same if s["steal"] < STEAL_LIMIT] or same
    return out


def per_period(steps: list[dict], key: str) -> float:
    """Amount of ``key`` in one period: each kind of step's median,
    summed, so leaving out a disturbed step does not change the mix."""
    by_kind: dict[int, list[float]] = {}
    for s in steps:
        by_kind.setdefault(s["kind"], []).append(s[key])
    return sum(statistics.median(v) for v in by_kind.values())


def end_to_end(name: str, steps: list[dict], used: list[dict]) -> dict:
    """Workload-specific end-to-end metrics (name -> (value, unit)):
    the gated ones from the undisturbed steps ``used``, the printed
    ones from every timed step."""
    out: dict[str, tuple[float, str]] = {}

    def lat(prefix, vals):
        out[f"{prefix}_p50_s"] = (statistics.median(vals), "s")
        if len(vals) >= 100:   # a tail needs >= 10 samples beyond it
            out[f"{prefix}_p90_s"] = (
                statistics.quantiles(vals, n=10, method="inclusive")[8], "s")

    if name.startswith("sync_"):
        lat("sync_lag", [s["lag_s"] for s in steps])
        out["sync_rows_per_s"] = (
            sum(s["shipped"] for s in steps)
            / sum(s["cycle_s"] for s in steps), "rows/s")
        lat("write", [w for s in steps for w in s["write_s"]])
        out["latency_p50_s"] = (
            statistics.median(s["lag_s"] for s in used), "s")
        out["throughput_per_s"] = (
            per_period(used, "shipped") / per_period(used, "cycle_s"), "1/s")
    else:
        lat("query", [x for s in steps for x in s.get("query_s", ())])
        out["queries_per_s"] = (sum(s["queries"] for s in steps)
                                / sum(s["wall_s"] for s in steps), "1/s")
        out["llm_docs_per_s"] = (
            statistics.median(s["docs"] / s["pass_s"]
                              for s in steps if "pass_s" in s), "docs/s")
        out["latency_p50_s"] = (statistics.median(
            x for s in used for x in s.get("query_s", ())), "s")
        out["throughput_per_s"] = (
            per_period(used, "queries") / per_period(used, "wall_s"), "1/s")
    return out


def per_layer(tracer, wl, timed: tuple[int, int], timed_wall: float,
              e2e: dict, conflicts: int) -> dict:
    """Per-layer metrics (name -> (value, unit)) from the spans."""
    out: dict[str, tuple[float, str]] = {}
    units = {"s": "s", "self_s": "s", "task_s": "s", "jobs": "count",
             "stages": "count", "tasks": "count"}

    def put(span: str, fields, prefix: str | None = None):
        for f in fields:
            v = tracer.median(span, f)
            if v is not None:
                out[f"{prefix or span}.{f}"] = (v, units[f])

    put("engine.cycle", ("s", "self_s", "jobs", "stages", "tasks", "task_s"))
    put("engine.ledger", ("s", "jobs"))
    put("engine.full_sync", ("s", "jobs", "stages"))
    put("acid.read_since", ("s", "jobs"))
    put("acid.apply_delta", ("s", "jobs", "stages", "tasks", "task_s"))
    put("acid.read", ("s",))
    put("cql_write.parse", ("s",))
    put("cql_write.apply", ("s", "jobs"))
    put("es_write.update_by_query", ("s", "jobs"))
    for layer in ("es_query", "cql_query"):
        put(f"{layer}.compile", ("s",))
        put(f"{layer}.plan", ("s",))
        put(f"{layer}.execute", ("s", "jobs", "tasks"))
    import workloads
    for short, _ in workloads.PIPELINE:
        span, fields = f"pipeline.{short}", ("s", "jobs", "tasks", "task_s")
        if tracer.by_name(span) or not isinstance(wl, workloads.SyncWorkload):
            put(span, fields)
        else:   # the sync workloads make no pipeline call: no time, no work
            out.update({f"{span}.{f}": (0, units[f]) for f in fields})
    for k, v in wl.acid_counters().items():
        unit = {"acid.rewrite_fraction": "ratio",
                "acid.live_files": "count"}.get(k, "B/row")
        out[k] = (v, unit)
    out["acid.commit_conflicts"] = (conflicts, "count")
    work = tracer.job_work(range(timed[0] + 1, timed[1] + 1))
    out["spark.busy_share"] = (work["task_s"] / (timed_wall * cpus()), "ratio")
    out["spark.timed_jobs"] = (work["jobs"], "count")
    out["trace.unattributed_jobs"] = (
        len(tracer.unattributed_jobs(*timed)), "count")
    out["traced.latency_p50_s"] = e2e["latency_p50_s"]
    out["traced.throughput_per_s"] = e2e["throughput_per_s"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, os.path.dirname(HERE))   # the package under test
    from cassandra_elasticsearch_sync_spark.session import get_spark
    from cassandra_elasticsearch_sync_spark.sources.acid import CommitConflict
    from spans import Tracer

    work = os.path.abspath(os.path.join(
        ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    prepare_env(work)
    spark = get_spark(master=f"local[{cpus()}]")
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_PROCESS
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = make_workload(args.workload, spark, tracer, args.seed,
                           os.path.join(work, "state"))
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for _ in range(wl.warm_steps):   # JIT, Python workers, first plans
            wl.step()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + warm_s

        first_job = tracer.last_job_id()
        steps, failures, attempted, conflicts = [], [], 0, 0
        with RssSampler([os.getpid(), gateway.proc.pid]) as rss:
            t0 = time.perf_counter()
            while (time.perf_counter() - t0 < args.seconds
                   or len(steps) % wl.period):
                tracer.round = len(steps)
                try:
                    c0, s0 = cpu_times(), time.perf_counter()
                    step = wl.step()
                    s1, c1 = time.perf_counter(), cpu_times()
                except Exception as e:  # noqa: BLE001 - counted, reported
                    attempted += 1
                    conflicts += isinstance(e, CommitConflict)
                    failures.append(f"step {len(steps)}: "
                                    f"{type(e).__name__}: {e}"[:500])
                    traceback.print_exc(file=sys.stderr)
                    break
                step.update(kind=len(steps) % wl.period, wall_s=s1 - s0,
                            queries=len(step.get("query_s", ())),
                            steal=(c1[0] - c0[0]) / max(c1[1] - c0[1], 1))
                steps.append(step)
                attempted += step["ops"]
            wall = time.perf_counter() - t0
        last_job = tracer.last_job_id()
        tracer.round = None

        t0 = time.perf_counter()
        if not failures:
            n_checks, bad = wl.check()
            attempted += n_checks
            failures += bad
        check_s = time.perf_counter() - t0
        ok = not failures and bool(steps)

        used = undisturbed(steps)
        e2e = end_to_end(args.workload, steps, used) if steps else {}
        e2e["setup_s"] = (setup_s, "s")
        e2e["peak_rss_mb"] = (rss.peak / 1e6, "MB")
        report = dict(e2e)
        if args.trace:
            tracer.finish()
            report.update(per_layer(tracer, wl, (first_job, last_job), wall,
                                    e2e, conflicts))
            os.makedirs(".bench_out", exist_ok=True)
            tracer.dump(os.path.join(
                ".bench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
            attempted += 1
            if report["trace.unattributed_jobs"][0]:
                failures.append(f"{report['trace.unattributed_jobs'][0]} "
                                "Spark jobs in the timed section ran "
                                "outside every span")
                ok = False

        print(environment(spark))
        print(f"workload={args.workload} seed={args.seed} "
              f"trace={args.trace} steps={len(steps)} "
              f"setup_reps={[round(r, 3) for r in reps]} warm_up_s={warm_s:.3f} "
              f"session_s={session_s:.3f} check_s={check_s:.3f} "
              f"timed_s={wall:.3f} undisturbed_steps={len(used)}")
        print("  steal=" + ",".join(f"{x['steal']:.3f}" for x in steps)
              + " wall_s=" + ",".join(f"{x['wall_s']:.3f}" for x in steps))
        passes = [s["query_s"] for s in steps if "query_s" in s]
        if passes:
            print("  template_p50_s=" + ",".join(
                f"{statistics.median(q):.3f}" for q in zip(*passes)))
        if steps and "lag_s" in steps[0]:
            print("  lags_s=" + ",".join(f"{x['lag_s']:.3f}" for x in steps)
                  + " cycles_s=" + ",".join(f"{x['cycle_s']:.3f}" for x in steps))
        for k in sorted(report):
            v, unit = report[k]
            print(f"  {k:34s} {v:14.6g} {unit}")
        print(f"  {'error_rate':34s} {len(failures) / max(attempted, 1):14.6g}"
              " ratio")
        for f in failures:
            print(f"  FAILED: {f}")

        keys = [m["name"] for m in
                spec["per_layer" if args.trace else "end_to_end"]]
        missing = [k for k in keys if k not in report]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        print(json.dumps({
            "correct": ok,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": report[k][0], "unit": report[k][1]}
                        for k in keys},
        }))
        return 0
    finally:
        stop_spark(spark, gateway)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass    # another run's work dir is still there


if __name__ == "__main__":
    sys.exit(main())
