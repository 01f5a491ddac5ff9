"""FST archive benchmark: one command, one JSON line.

    python3 perfbench/run.py --workload fst_archive --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from ``--seed``, starts a local Spark
session (``local[$SPARK_GRAFT_CPUS]``, default 4), runs closed-loop rounds
of the workload's operations for ``--seconds`` seconds, checks every
operation's output against the generator's numpy reference, and prints
as its last line ``{"correct", "attempted", "failed", "metrics"}``.
Workloads: ``fst_archive`` and ``text_dedup`` (BENCHMARK.json), and
``known_defects`` (operations that fail; see NOTES.md).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds, prints the per-layer metrics (0 for a layer
the workload does not exercise), and writes spans, per-layer self time
and the tracing overhead to ``perfbench/out/trace-<workload>-<seed>.json``.

Exits 2 without a result when the engine's sources are not next to the
benchmark, 1 when the harness itself fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (name -> unit), printed with --trace 0
END_TO_END = {"setup_s": "s", "round_s": "s", "peak_rss_mb": "MB"}

_OP_UNITS = {"build_s": "s", "plan_s": "s", "exec_s": "s",
             "shuffle_mb": "MB", "spill_mb": "MB", "rows_out": "count"}
#: per-layer metrics (name -> unit), printed with --trace 1
PER_LAYER = {
    "sources.dir_s": "s", "sources.examined_per_returned": "ratio",
    "sources.tasks": "count", "sources.scan_s": "s",
    "sources.scan_mb_per_s": "MB/s",
    "codec.decode_mb_per_s": "MB/s", "codec.encode_mb_per_s": "MB/s",
    "writer.s": "s", "writer.mb_per_s": "MB/s",
    "writer.bytes_per_payload_byte": "ratio", "writer.files": "count",
    "meta.decode_s": "s",
    **{f"{op}.{k}": u for op in ("stats", "units")
       for k, u in _OP_UNITS.items()},
    "query.p50_s": "s", "query.tail_s": "s", "query.tail_pct": "%",
    "dedup.exact_s": "s", "dedup.lsh_s": "s",
    "dedup.candidate_pairs": "count", "dedup.true_pair_ratio": "ratio",
    "dedup.recall": "ratio",
    "cluster.s": "s", "cluster.jobs": "count", "cluster.components": "count",
    "engine.jobs": "count", "engine.tasks": "count",
    "engine.executor_run_s": "s", "engine.gc_s": "s",
    "engine.shuffle_mb": "MB", "engine.spill_mb": "MB",
    "self.sources_s": "s", "self.operators_s": "s", "self.engine_s": "s",
    "trace.overhead": "ratio",
}

#: inputs are generated this many times in set-up; setup_s takes the median
PREP_REPEATS = 3
#: the first rounds after warm-up still run slow while the JIT settles
MIN_ROUNDS = 3


def layer_metrics(wl, traced, probe: dict, selfs: "list[dict]") -> dict:
    """Every per-layer metric: the workload's numbers from its traced
    rounds and probe, span self time per layer, 0 for the rest."""
    from perfbench.workloads import median

    out = {k: 0.0 for k in PER_LAYER}
    out.update(wl.layer_metrics(traced))
    for layer in ("sources", "operators", "engine"):
        out[f"self.{layer}_s"] = median([
            sum(v for k, v in st.items() if k.split(".")[0] == layer)
            for st in selfs])
    out.update(probe)
    return out


def _setup(spark, wl, session_s: float) -> "tuple[float, list]":
    """Generate the inputs ``PREP_REPEATS`` times (keeping the last) and
    run one warm-up round; returns (setup_s, the warm-up round's ops)."""
    from perfbench.trace import Tracer
    from perfbench.workloads import Runner

    prep = []
    for i in range(PREP_REPEATS):
        if i:
            shutil.rmtree(wl.input_dir(i - 1), ignore_errors=True)
        t = time.perf_counter()
        wl.prepare(i)
        prep.append(time.perf_counter() - t)
    t = time.perf_counter()
    ops = wl.round(0, Runner(spark, Tracer(False), "warm"))
    warm_s = time.perf_counter() - t
    print(f"set-up: session {session_s:.2f} s, inputs "
          f"{statistics.median(prep):.2f} s (median of {PREP_REPEATS}), "
          f"warm-up round {warm_s:.2f} s ("
          + ", ".join(f"{o.name} {o.seconds:.2f}" for o in ops) + ")",
          file=sys.stderr)
    return session_s + statistics.median(prep) + warm_s, ops


def _measure(spark, wl, seconds: float, trace: bool):
    """Closed-loop rounds for ``seconds``, at least ``MIN_ROUNDS``; with
    ``trace``, every other round is traced and at least two of each kind
    run. Returns the rounds as (traced, ops) and the traced rounds'
    tracers."""
    from perfbench.trace import Tracer
    from perfbench.workloads import Runner

    rounds: "list[tuple[bool, list]]" = []
    tracers = []
    deadline = time.perf_counter() + seconds
    min_rounds = 4 if trace else MIN_ROUNDS
    r = 1
    while time.perf_counter() < deadline or len(rounds) < min_rounds:
        tracer = Tracer(trace and r % 2 == 0)
        rounds.append((tracer.enabled,
                       wl.round(r, Runner(spark, tracer, f"round{r}"))))
        if tracer.enabled:
            tracers.append(tracer)
        r += 1
    return rounds, tracers


def round_time(ops) -> float:
    """A round's time; +inf when one of its operations failed."""
    if any(o.problems for o in ops):
        return float("inf")
    return sum(o.seconds for o in ops)


def median_round(rounds: "list[list]") -> float:
    """The time of a typical round: the sum over the round's operations of
    each one's median latency across ``rounds`` (a failed operation
    counts +inf). Less sensitive than the median of round sums to one
    slow operation in an otherwise fast round."""
    by_name: "dict[str, list[float]]" = {}
    for ops in rounds:
        for o in ops:
            by_name.setdefault(o.name, []).append(
                float("inf") if o.problems else o.seconds)
    return sum(statistics.median(v) for v in by_name.values())


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import launch
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    t0 = time.perf_counter()
    spark = launch.start_session(f"perfbench-{workload}", work)
    try:
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[workload](spark, work, seed)
        with RssSampler(launch.jvm_pid(spark)) as rss:
            setup_s, warm = _setup(spark, wl, session_s)
            rounds, tracers = _measure(spark, wl, seconds, trace)
        probe_tracer = Tracer(trace)
        probe = wl.layer_probe(probe_tracer) if trace else {}
    finally:
        t = time.perf_counter()
        launch.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"stopped in {time.perf_counter() - t:.2f} s", file=sys.stderr)

    ops = warm + [o for _, res in rounds for o in res]
    failed = [o for o in ops if o.problems]
    for o in failed[:5]:
        print(f"failed {o.name}: {'; '.join(o.problems)}", file=sys.stderr)
    untraced = [res for on, res in rounds if not on]
    print("round times (s): " + " ".join(f"{round_time(res):.3f}"
                                         for res in untraced),
          file=sys.stderr)
    plain = median_round(untraced)
    if trace:
        traced = [res for on, res in rounds if on]
        metrics = layer_metrics(wl, traced, probe,
                                [t.self_times() for t in tracers])
        metrics["trace.overhead"] = median_round(traced) / plain - 1.0
        _write_trace(workload, seed, tracers + [probe_tracer], metrics)
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s, "round_s": plain,
                   "peak_rss_mb": rss.peak_mb}
        units = END_TO_END
    return {"correct": not failed, "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}


def _write_trace(workload: str, seed: int, tracers, metrics: dict) -> None:
    """Spans of every traced round and of the probe, the per-layer self
    time per traced round, and the per-layer metrics."""
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    rounds = tracers[:-1]
    self_time: "dict[str, float]" = {}
    for t in rounds:
        for k, v in t.self_times().items():
            self_time[k] = self_time.get(k, 0.0) + v / len(rounds)
    with open(os.path.join(out, f"trace-{workload}-{seed}.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed,
                   "tracing_overhead": metrics["trace.overhead"],
                   "self_time_per_round_s": self_time,
                   "per_layer": metrics,
                   "spans": [t.to_json() for t in tracers]}, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import launch
    from perfbench.workloads import WORKLOADS

    if not launch.package_present():
        print(f"perfbench: no {launch.PACKAGE}/ next to the benchmark in "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
