"""The closed round loop, its accounting and the result record."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
import traceback

import proctree
import replay
from spans import Tracer
from workloads import WORKLOADS

from crawlingathome_server_spark.plans.rounds import CrawlEngine, RoundEngine
from crawlingathome_server_spark.sources.checkpoint import CheckpointStore

#: end-to-end metrics and their units (the ``--trace 0`` output)
E2E_UNITS = {
    "setup_s": "s",
    "round_cpu_s": "s",
    "scheduled_per_cpu_s": "1/s",
    "view_cpu_s": "s",
    "write_mb_per_round": "MB",
    "store_mb": "MB",
    "peak_pss_mb": "MB",
}

#: a traced round's span self-times must sum to its measured wall time
#: within this share of it plus SELF_SUM_ABS_S
SELF_SUM_REL_TOL = 0.02
SELF_SUM_ABS_S = 0.05


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(cpu, fn, *args):
    """(result, wall s, wall s net of steal, process-tree CPU s) of one call.

    Net of steal: the wall time times the share of the machine's CPU time
    in the interval that the hypervisor did not steal. On this class of
    shared VM, steal swings from under 1% to 20% between runs and
    stretches a round's wall time with it; the program cannot cause it.
    """
    s0, n0 = proctree.cpu_times()
    c0, t0 = cpu(), time.perf_counter()
    out = fn(*args)
    wall = time.perf_counter() - t0
    s1, n1 = proctree.cpu_times()
    return out, wall, wall * (1 - (s1 - s0) / max(1, n1 - n0)), cpu() - c0


class Ops:
    """Attempted/failed operation counts (rounds, views and checks)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, name: str, fn, *a):
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:  # the benchmark records the failure and reports it
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, name: str, ok: bool, detail: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")


def _install_spans(tracer: Tracer) -> None:
    tracer.wrap(CrawlEngine, "run_round", "rounds")
    tracer.wrap(RoundEngine, "run_round", "rounds")
    tracer.wrap(CheckpointStore, "commit", "checkpoint.commit")
    tracer.wrap(CheckpointStore, "read_buckets", "checkpoint.read_buckets")
    tracer.wrap(CheckpointStore, "compact", "checkpoint.compact")


def _check_determinism(ops: Ops, ref_dir: str, key: str, counts: list) -> None:
    """Count sequences must repeat exactly across runs of one seed: the
    first run records them, later runs compare their common prefix."""
    os.makedirs(ref_dir, exist_ok=True)
    path = os.path.join(ref_dir, f"{key}.json")
    ref = None
    if os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
    if ref is not None:
        n = min(len(ref), len(counts))
        ops.check("deterministic_counts", ref[:n] == counts[:n],
                  f"ref={ref[:n]} run={counts[:n]}")
    if ref is None or len(counts) > len(ref):
        with open(path + ".tmp", "w") as f:
            json.dump(counts, f)
        os.replace(path + ".tmp", path)


def run_workload(spark, args, work, ref_dir, size, *, min_rounds, max_rounds):
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    daemon_pid = None

    def daemon():
        nonlocal daemon_pid
        if daemon_pid is None or not os.path.exists(f"/proc/{daemon_pid}"):
            daemon_pid = proctree.find_python_daemon(jvm_pid)
        return daemon_pid

    def cpu():
        return proctree.tree_cpu_seconds(jvm_pid)

    wl = WORKLOADS[args.workload](spark, work, args.seed, size)
    ops = Ops()
    tracer = Tracer(spark, daemon, enabled=False)
    steal0, total0 = proctree.cpu_times()
    loads = [proctree.load_average()]
    rounds: list[dict] = []
    phases: dict[str, float] = {}
    t_run = time.perf_counter()
    with proctree.MemorySampler(jvm_pid) as mem:
        setup_s = []
        for i in range(wl.setup_reps):
            setup_s.append(_timed(cpu, wl.setup, os.path.join(work, f"store{i}"))[2])
            if i + 1 < wl.setup_reps:
                shutil.rmtree(wl.store.root, ignore_errors=True)
        phases["setup_done"] = time.perf_counter() - t_run
        if args.trace:
            _install_spans(tracer)
        k, spent, store_mb = 0, 0.0, 0.0
        while len(rounds) < max_rounds and (
            spent < args.seconds or len(rounds) < min_rounds
        ):
            wl.prepare(k)
            tracer.enabled = bool(args.trace)
            p0, o0 = tracer._py_cpu(), tracer.overhead_cpu_s
            n, wall, net, round_cpu = _timed(cpu, ops.run, f"round{k}", wl.run_round, k)
            py_cpu = tracer._py_cpu() - p0
            tracer.enabled = False
            if n is None:
                break
            rec = {
                "k": k, "wall_s": wall, "net_s": net, "cpu_s": round_cpu,
                "py_cpu_s": py_cpu, "scheduled": n,
                "trace_cpu_s": tracer.overhead_cpu_s - o0,
                "write_mb": wl.snapshot_write_mb(wl.store.latest_snapshot_id()),
                "table_s": dict(getattr(wl.store, "last_commit_table_secs", {})),
            }
            if args.trace:
                tracer.collect_jobs()
            views = [_timed(cpu, ops.run, f"view{k}", wl.view, k) for _ in range(wl.view_reads)]
            rec["view_wall_s"] = _median([v[1] for v in views])
            rec["view_net_s"] = _median([v[2] for v in views])
            rec["view_cpu_s"] = _median([v[3] for v in views])
            spent += wall + sum(v[1] for v in views)
            rounds.append(rec)
            loads.append(proctree.load_average())
            if len(rounds) == min_rounds:
                # sized at a fixed round, so a faster program that fits
                # more rounds into the run is not charged a bigger store
                store_mb = wl.live_mb()
            k += 1
        phases["rounds_done"] = time.perf_counter() - t_run
        for name, good, detail in ops.run("checks", wl.checks) or []:
            ops.check(name, good, detail)
        size_key = hashlib.sha1(json.dumps(size, sort_keys=True).encode()).hexdigest()[:8]
        _check_determinism(
            ops, ref_dir, f"{args.workload}-{args.seed}-{size_key}", wl.counts()
        )
        layer = {}
        phases["checks_done"] = time.perf_counter() - t_run
        if args.trace:
            layer = _layer_metrics(wl, tracer, rounds, ops)
            tracer.close()
        phases["trace_done"] = time.perf_counter() - t_run
    steal1, total1 = proctree.cpu_times()
    metrics = {
        "setup_s": _median(setup_s),
        "round_cpu_s": _median([r["cpu_s"] for r in rounds]),
        "scheduled_per_cpu_s": _median(
            [r["scheduled"] / r["cpu_s"] for r in rounds if r["cpu_s"] > 0]
        ),
        "view_cpu_s": _median([r["view_cpu_s"] for r in rounds]),
        "write_mb_per_round": _median([r["write_mb"] for r in rounds]),
        "store_mb": store_mb,
        "peak_pss_mb": mem.peak_mb,
    }
    if args.trace:
        out_metrics = {n: {"value": v, "unit": replay.LAYER_UNITS[n]} for n, v in layer.items()}
    else:
        out_metrics = {n: {"value": metrics[n], "unit": u} for n, u in E2E_UNITS.items()}
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "load_avg": loads,
        "setup_s": setup_s,
        "phases_s": phases,
        "rounds": rounds,
        # wall times move with steal and with other tenants' load far more
        # than CPU does on a shared VM; they are reported, not gated
        "round_wall_s": _median([r["wall_s"] for r in rounds]),
        "round_net_s": _median([r["net_s"] for r in rounds]),
        "view_wall_s": _median([r["view_wall_s"] for r in rounds]),
        "view_net_s": _median([r["view_net_s"] for r in rounds]),
        "failures": ops.failures,
        **({"end_to_end": metrics} if args.trace else {}),
    }
    result = {
        "correct": ops.failed == 0 and bool(rounds),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": out_metrics,
    }
    return result, diag


def _layer_metrics(wl, tracer: Tracer, rounds: list[dict], ops: Ops) -> dict:
    """Per-layer metrics of a traced run: in-round spans plus replays."""
    per_round = []
    for r, sp in zip(rounds, tracer.named("rounds")):
        sub = tracer.subtree(sp)
        self_sum = sum(tracer.self_time(s) for s in sub)
        ops.check(
            f"self_times_sum_round{r['k']}",
            abs(self_sum - r["wall_s"]) <= SELF_SUM_REL_TOL * r["wall_s"] + SELF_SUM_ABS_S,
            f"self-time sum {self_sum:.3f} s vs wall {r['wall_s']:.3f} s",
        )
        jobs = tracer.jobs_in(sp)
        commits = [s for s in sub if s.name == "checkpoint.commit"]
        commit_jobs = [j for s in commits for j in tracer.jobs_in(s)]
        per_round.append({
            "rounds.self_s": tracer.self_time(sp),
            "rounds.jobs": len(jobs),
            "rounds.stages": sum(j.stages for j in jobs),
            "rounds.executor_cpu_s": sum(j.executor_cpu_s for j in jobs),
            "rounds.py_cpu_s": sp.py_cpu1 - sp.py_cpu0,
            "rounds.gc_s": sum(j.gc_s for j in jobs),
            "checkpoint.commit_s": sum(s.dur for s in commits),
            "checkpoint.commit_jobs": len(commit_jobs),
            "checkpoint.slowest_table_s": max(r["table_s"].values(), default=0.0),
            "checkpoint.write_mb": r["write_mb"],
        })
    out = {
        name: _median([p[name] for p in per_round]) for name in (per_round[0] if per_round else {})
    }
    # traced minus untraced round CPU is rounds.cpu_s here against
    # round_cpu_s of an untraced run; within the run, the tracer's own
    # bookkeeping CPU is measured directly
    out["rounds.cpu_s"] = _median([r["cpu_s"] for r in rounds])
    out["trace.overhead_cpu_s"] = _median([r["trace_cpu_s"] for r in rounds])
    out["checkpoint.live_layers"] = wl.live_layers()
    tracer.enabled = True
    out.update(ops.run("replay", replay.replay, wl, tracer) or {})
    tracer.enabled = False
    return {name: float(out.get(name, 0.0)) for name in replay.LAYER_UNITS}
