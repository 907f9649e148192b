#!/usr/bin/env python3
"""sparkkd benchmark: one closed-loop client against a local[nproc] session.

    python3 perfbench/run.py --workload geo_bulk --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run

1. generates the workload's inputs from --seed (cached under .perfbench/);
2. starts a Spark session sized to the host and builds the workload's
   indexes several times (set-up, reported as the median build);
3. runs one untimed cycle of the workload's ops to warm the JVM and the
   Python workers, then issues batches one at a time, cycling through the
   ops, for --seconds (at least one cycle);
4. checks the last batch of every op against NumPy brute force;
5. prints a human-readable report, then one JSON line: the end-to-end
   metrics with --trace 0, the per-layer metrics with --trace 1.

Workloads (see BENCHMARK.json for why each exists):

  geo_bulk        GeoIndex; kNN k=8 and radius joins of the whole query
                  pool, plus pip_join / with_cell tiling of the corpus
  pose_bulk       So3Index kNN k=8 and Se3Index kNN k=4 of the pose pool
  geo_microbatch  GeoIndex; kNN k=8 over seeded draws of 256 queries (the
                  stream_knn_enrich shape).  Not in BENCHMARK.json: a run
                  repeats set-up and warm-up, so on a 4-core host three
                  workloads do not fit the benchmark's time budget; run it
                  by hand when a change targets the per-batch fixed cost.

End-to-end metrics (--trace 0):

  setup_s       median wall time of one build of the workload's indexes
                (the first build in a fresh JVM is one of the samples)
  cycle_s       sum over the workload's ops of the op's median batch wall
                time, less the CPU time the hypervisor stole from this
                machine during the batch (/proc/stat steal, divided by the
                cores): on a shared host other guests' load otherwise moves
                it by 20% between runs.  The raw wall time is in the report
                line as cycle_wall_s.
  cycle_cpu_s   the same sum over CPU seconds of the whole process tree per
                batch: the work a batch costs
  peak_rss_mb   peak RSS of the whole process tree (driver, JVM, workers)
  success_rate  1 - failed / attempted operations (a failed output check
                counts as a failed operation)

--trace 1 enables the Spark event log, runs at least three cycles, records
spans and Spark job groups around every call and action of the odd cycles,
and reports per-layer figures per cycle (see PER_LAYER below); the even,
untraced cycles give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "cycle_cpu_s": "s",
    "peak_rss_mb": "MB",
    "success_rate": "fraction",
}

PER_LAYER = {
    "engine.build_s": "s",
    "engine.call_s": "s",
    "engine.action_s": "s",
    "self.call_s": "s",
    "self.action_s": "s",
    "spark.job_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.idle_frac": "fraction",
    "arrow.sent_mb": "MB",
    "arrow.returned_mb": "MB",
    "arrow.rows_out": "count",
    "kernel.build_us_per_pt": "us",
    "kernel.query_us_per_query": "us",
    "kernel.time_s": "s",
    "kernel.share": "fraction",
    "trace.overhead_frac": "fraction",
}

# per-op figures summed into a cycle
_ADDITIVE = (
    "call_s", "action_s", "self.call_s", "self.action_s", "spark.job_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.fetch_wait_s",
    "arrow.sent_mb", "arrow.returned_mb", "arrow.rows_out",
)

# A run repeats session start, set-up and warm-up (about 40 s on a 4-core
# host), and the benchmark's run budget leaves room for about one measured
# cycle after them.  A traced run measures three and traces only the middle
# one (odd cycles), so the untraced cycles on both sides of it cancel the
# JIT warm-up trend out of the tracing overhead.
MIN_CYCLES = 1
MIN_CYCLES_TRACED = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the benchmark's own test")
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or (None, None) with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(values)[n - 11]


class Run:
    def __init__(self, args, work: Path):
        from perfbench import workloads

        self.args = args
        self.work = work
        self.size = workloads.SIZES[args.scale]
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[dict]] = {}
        self.report: dict = {"workload": args.workload, "seed": args.seed, "scale": args.scale}

    def _fail(self, what: str, detail: str) -> None:
        self.failed += 1
        self.problems.append(f"{what}: {detail}")
        print(f"perfbench: {what} failed: {detail}", file=sys.stderr)

    def execute(self):
        import numpy as np

        from perfbench import host, trace, workloads

        conf = host.session_conf(ROOT, self.work, self.trace)
        self.report["session"] = conf
        t0 = time.perf_counter()
        spark = host.start_session(conf)
        self.report["session_start_s"] = time.perf_counter() - t0
        self.spark = spark
        self.cores = host.cpu_count()
        self.tracer = trace.Tracer()
        try:
            t0 = time.perf_counter()
            wl = workloads.make(
                self.args.workload, spark, self.work / "inputs", self.args.seed, self.size
            )
            self.report["load_s"] = time.perf_counter() - t0
            for op in wl.ops:
                op.check_n = self.size["check_sample"]
            self.wl = wl
            builds = []
            for _ in range(self.size["setup_reps"]):
                t = time.perf_counter()
                wl.data.build(spark)
                builds.append(time.perf_counter() - t)
            self.report["setup_builds_s"] = builds
            rng = np.random.default_rng([self.args.seed, 1])
            self._warm(rng)
            self._measure(rng)
            t0 = time.perf_counter()
            self._check(np.random.default_rng([self.args.seed, 2]))
            self.report["check_s"] = time.perf_counter() - t0
            if self.trace:
                self.report["kernel"] = self._kernel_bench(np.random.default_rng([self.args.seed, 3]))
                app_id = spark.sparkContext.applicationId
        finally:
            t0 = time.perf_counter()
            host.stop_session(spark)
            self.report["stop_s"] = time.perf_counter() - t0
        if self.trace:
            log = self.work / "eventlog" / app_id
            self.jobs = trace.parse_event_log(log)
            log.unlink()
            self.tracer.add_jobs(
                ((s["spans"][0], s["spans"][3])
                 for v in self.samples.values() for s in v if s["traced"]),
                self.jobs,
            )
            self.tracer.dump(self.work / "spans" / f"{self.args.workload}-{self.args.seed}.jsonl")

    def _run_op(self, op, batch, cycle: int | None):
        """Call + action of one op; returns the sample, or None on error.
        cycle is set when this execution is traced."""
        from perfbench import host

        sc = self.spark.sparkContext
        group = f"{op.name}#{cycle}" if cycle is not None else None
        if self.trace:
            # untraced executions clear the group so their jobs stay unattributed
            sc.setLocalProperty("spark.jobGroup.id", group)
        spans = None
        if group:
            top = self.tracer.open(op.name, cycle=cycle)
            call = self.tracer.open("call", top, layer=op.layer)
        self.attempted += 1
        cpu0, steal0 = host.tree_cpu_s(os.getpid()), host.steal_s()
        try:
            t0 = time.perf_counter()
            result = op.call(batch)
            t1 = time.perf_counter()
            if group:
                self.tracer.close(call)
                action = self.tracer.open("action", top, layer=op.layer)
            rows, out = op.action(result)
            t2 = time.perf_counter()
            cpu, steal = host.tree_cpu_s(os.getpid()) - cpu0, host.steal_s() - steal0
        except Exception:
            self._fail(op.name, traceback.format_exc())
            return None
        if group:
            self.tracer.close(action)
            self.tracer.close(top)
            spans = (top, call, action, list(sc.statusTracker().getJobIdsForGroup(group)))
        return {
            "call_s": t1 - t0, "action_s": t2 - t1, "wall_s": t2 - t0,
            "cpu_s": cpu, "steal_s": steal, "unstolen_s": t2 - t0 - steal / self.cores,
            "rows": rows, "traced": group is not None, "spans": spans,
            "out": out, "batch": batch,
        }

    def _warm(self, rng) -> None:
        warm = {}
        for op in self.wl.ops:
            s = self._run_op(op, op.batch(rng), None)
            if s is not None:
                warm[op.name] = s["wall_s"]
        self.report["warm_s"] = warm

    def _measure(self, rng) -> None:
        self.samples = {op.name: [] for op in self.wl.ops}
        self.last: dict[str, dict] = {}
        start = time.perf_counter()
        cycle = 0
        while True:
            traced = self.trace and cycle % 2 == 1
            for op in self.wl.ops:
                s = self._run_op(op, op.batch(rng), cycle if traced else None)
                if s is not None:
                    self.last[op.name] = s
                    self.samples[op.name].append(
                        {k: v for k, v in s.items() if k not in ("out", "batch")}
                    )
            cycle += 1
            elapsed = time.perf_counter() - start
            if elapsed >= self.args.seconds and cycle >= (
                MIN_CYCLES_TRACED if self.trace else MIN_CYCLES
            ):
                break
        self.report["cycles"] = cycle
        self.report["measured_s"] = elapsed

    def _check(self, rng) -> None:
        for op in self.wl.ops:
            s = self.last.get(op.name)
            if s is None:
                continue
            try:
                problems = op.check(s["out"], s["batch"], s["rows"], rng)
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                self._fail(f"{op.name} check", "; ".join(problems[:5]))
        self.report["checked_ops"] = sorted(self.last)

    def _kernel_bench(self, rng) -> dict:
        """Spark-free kernel rates on groups sized like the index's
        partitions (from its lineage), and the kernel time per batch they
        imply: every point of a touched partition is built into a tree,
        and every query (or radius pair) is searched once."""
        from perfbench import trace, workloads

        data = self.wl.data
        n_q = {op.name: op.n_queries for op in self.wl.ops}
        if self.args.workload == "pose_bulk":
            rates = {}
            for name, index, dims, k, compound in (
                ("so3", data.so3, 4, workloads.SO3_K, None),
                ("se3", data.se3, 3, workloads.SE3_K, {
                    "rot_weight": workloads.SE3_ROT_WEIGHT,
                    "trans_weight": workloads.SE3_TRANS_WEIGHT,
                }),
            ):
                lin = index.lineage().toPandas()
                lo = lin[[f"lo_{j}" for j in range(dims)]].to_numpy()
                hi = lin[[f"hi_{j}" for j in range(dims)]].to_numpy()
                groups = trace.partition_groups(rng, lin["n_rows"], lo, hi, n_q[name])
                rates[name] = trace.kernel_rates(rng, groups, k, compound=compound)
            n = len(data.corpus["ids"])
            per_op = {
                name: 1e-6 * (r["build_us_per_pt"] * n + r["query_us_per_query"] * n_q[name])
                for name, r in rates.items()
            }
            return {
                "kernel.knn_us_per_query": rates["so3"]["query_us_per_query"],
                "kernel.knn_compound_us_per_query": rates["se3"]["query_us_per_query"],
                "kernel.build_us_per_pt": statistics.mean(r["build_us_per_pt"] for r in rates.values()),
                "kernel.query_us_per_query": statistics.mean(r["query_us_per_query"] for r in rates.values()),
                "per_op_s": per_op,
            }
        lin = data.index.lineage().toPandas()
        counts = lin["n_rows"].to_numpy()
        groups = trace.partition_groups(
            rng, counts, lin[["min_x", "min_y"]].to_numpy(), lin[["max_x", "max_y"]].to_numpy(),
            max(n_q.values()),
        )
        has_radius = "radius" in n_q
        rates = trace.kernel_rates(
            rng, groups, workloads.KNN_K, radius=self.size["radius"] if has_radius else None
        )
        per_op = {}
        for name, nq in n_q.items():
            if not nq:
                continue  # tiling runs no k-d kernel
            touched = float((counts * (1.0 - (1.0 - counts / counts.sum()) ** nq)).sum())
            if name == "radius":
                pairs = statistics.median(s["rows"] for s in self.samples[name])
                search = rates["radius_us_per_pair"] * pairs
            else:
                search = rates["query_us_per_query"] * nq
            per_op[name] = 1e-6 * (rates["build_us_per_pt"] * touched + search)
        out = {
            "kernel.build_us_per_pt": rates["build_us_per_pt"],
            "kernel.query_us_per_query": rates["query_us_per_query"],
            "kernel.knn_us_per_query": rates["query_us_per_query"],
            "per_op_s": per_op,
        }
        if has_radius:
            out["kernel.radius_us_per_pair"] = rates["radius_us_per_pair"]
        return out

    # ------------------------------------------------------------ metrics

    def end_to_end(self, peak_rss_mb: float, rss_samples: int) -> dict:
        builds = self.report.get("setup_builds_s", [])
        n = min((len(v) for v in self.samples.values()), default=0)

        def per_cycle(key: str) -> float:
            return sum(statistics.median(s[key] for s in v) for v in self.samples.values() if v)

        return {
            "setup_s": (statistics.median(builds) if builds else float("nan"), len(builds)),
            "cycle_s": (per_cycle("unstolen_s"), n),
            "cycle_cpu_s": (per_cycle("cpu_s"), n),
            "peak_rss_mb": (peak_rss_mb, rss_samples),
            "success_rate": (1.0 - self.failed / max(self.attempted, 1), self.attempted),
        }

    def op_metrics(self) -> dict:
        """The per-op figures: batch medians, throughputs, tails."""
        out = {}
        for op in self.wl.ops:
            name, v = op.name, self.samples.get(op.name)
            if not v:
                continue
            walls = [s["wall_s"] for s in v]
            p50 = statistics.median(walls)
            pct, tv = tail(walls)
            d = {"n": len(walls), "p50_s": p50, "max_s": max(walls),
                 "walls_s": [s["wall_s"] for s in v],
                 "cpu_p50_s": statistics.median(s["cpu_s"] for s in v),
                 "steal_s": [round(s["steal_s"], 2) for s in v],
                 "tail_pct": pct, "tail_s": tv,
                 "rows_p50": statistics.median(s["rows"] for s in v)}
            if name == "radius":
                d["radius_pairs_per_s"] = d["rows_p50"] / p50
            elif name == "tiling":
                d["tiling_rows_per_s"] = 3 * self.size["n_images"] / p50
            else:
                d[f"{name}_qps"] = op.n_queries / p50
            out[name] = d
        return out

    def per_layer(self) -> dict:
        from perfbench import trace

        builds = self.report.get("setup_builds_s", [])
        cycle = {k: 0.0 for k in _ADDITIVE}
        wall = 0.0
        detail = {}
        covers = []
        untraced_wall = 0.0
        for op in self.wl.ops:
            v = self.samples.get(op.name, [])
            traced = [s for s in v if s["traced"]]
            plain = [s for s in v if not s["traced"]]
            if not traced:
                continue
            rows = [trace.op_layers(*s["spans"], self.jobs, self.cores) for s in traced]
            med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
            for k in _ADDITIVE:
                cycle[k] += med[k]
            wall += med["wall_s"]
            covers.append(med["span_cover"])
            untraced_wall += statistics.median(s["wall_s"] for s in plain) if plain else med["wall_s"]
            detail[op.name] = {
                f"{op.layer}.{op.name}_call_s": med["call_s"],
                f"{op.layer}.{op.name}_action_s": med["action_s"],
                **{k.replace("spark.", f"spark.{op.name}.").replace("arrow.", f"arrow.{op.name}."): med[k]
                   for k in med if k.startswith(("spark.", "arrow."))},
                "span_cover": med["span_cover"],
                "self.call_s": med["self.call_s"],
                "self.action_s": med["self.action_s"],
                "n_traced": len(traced),
            }
        k = self.report["kernel"]
        kernel_s = sum(k["per_op_s"].values())
        for name, s in k["per_op_s"].items():
            if name in detail:
                detail[name][f"kernel.{name}.share"] = s / max(detail[name][f"spark.{name}.task_s"], 1e-9)
        self.report["per_op_layers"] = detail
        self.report["span_cover_min"] = min(covers) if covers else None
        return {
            "engine.build_s": statistics.median(builds),
            "engine.call_s": cycle["call_s"],
            "engine.action_s": cycle["action_s"],
            "self.call_s": cycle["self.call_s"],
            "self.action_s": cycle["self.action_s"],
            "spark.job_s": cycle["spark.job_s"],
            "spark.jobs": cycle["spark.jobs"],
            "spark.stages": cycle["spark.stages"],
            "spark.tasks": cycle["spark.tasks"],
            "spark.task_s": cycle["spark.task_s"],
            "spark.shuffle_write_mb": cycle["spark.shuffle_write_mb"],
            "spark.shuffle_read_mb": cycle["spark.shuffle_read_mb"],
            "spark.idle_frac": 1.0 - cycle["spark.task_s"] / (wall * self.cores) if wall else 0.0,
            "arrow.sent_mb": cycle["arrow.sent_mb"],
            "arrow.returned_mb": cycle["arrow.returned_mb"],
            "arrow.rows_out": cycle["arrow.rows_out"],
            "kernel.build_us_per_pt": k["kernel.build_us_per_pt"],
            "kernel.query_us_per_query": k["kernel.query_us_per_query"],
            "kernel.time_s": kernel_s,
            "kernel.share": kernel_s / max(cycle["spark.task_s"], 1e-9),
            "trace.overhead_frac": wall / untraced_wall - 1.0 if untraced_wall else 0.0,
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "sparkkd" / "__init__.py").is_file():
        print(f"perfbench: no sparkkd package at {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # every temp file the driver, the JVM launcher and the workers write
    # stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, str(ROOT))

    from perfbench import host, workloads

    os.environ.update(host.launcher_env(work))

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.NAMES}",
              file=sys.stderr)
        return 2
    run = Run(args, work)
    with host.RssSampler() as rss:
        run.execute()
    e2e = run.end_to_end(rss.peak_mb, rss.samples)
    report = run.report
    report["peak_rss_by_command_mb"] = rss.peak_by_comm
    report["end_to_end"] = {k: {"value": v, "unit": END_TO_END[k], "n": n} for k, (v, n) in e2e.items()}
    report["cycle_wall_s"] = sum(
        statistics.median(s["wall_s"] for s in v) for v in run.samples.values() if v
    )
    report["ops"] = run.op_metrics()
    report["problems"] = run.problems
    for name, (value, n) in e2e.items():
        print(f"{name:<14} {value:>14.6g} {END_TO_END[name]:<8} n={n}")
    for name, d in report["ops"].items():
        tail_txt = (f"p{d['tail_pct']:.1f}={d['tail_s']:.3f}s" if d["tail_pct"] is not None
                    else "tail: fewer than 11 samples")
        print(f"op {name:<11} n={d['n']} p50={d['p50_s']:.3f}s max={d['max_s']:.3f}s {tail_txt}")
    if run.trace:
        layers = run.per_layer()
        metrics = {k: {"value": float(layers[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
        for k, v in metrics.items():
            print(f"{k:<26} {v['value']:>14.6g} {v['unit']}")
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
    print("report " + json.dumps(report, default=str))
    correct = run.failed == 0 and bool(report.get("checked_ops"))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
