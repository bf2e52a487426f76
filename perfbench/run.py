"""exon_spark benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload region_lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Load shape: one driver process at
local[nproc] with the Spark conf ``get_spark()`` sets, and one client
thread issuing ops in a closed loop (each op starts when the previous one
returned). A run:

1. generates (or reuses, cached by size and seed) the workload's inputs,
   in a child process while the JVM starts;
2. sets up three times (session start, table registration, one warm-up
   op) and reports the median as ``setup_s``; the first set-up launches
   the JVM and the SparkContext, the others open a new session on it;
3. prepares, untimed: the truth that needs a query (COPY source hashes,
   DuckDB oracles) on ``batch``, one BAM lookup on ``region_lookup``;
4. runs whole passes of the workload's ops until ``--seconds`` have
   passed, timing each op and checking each op's output untimed. The
   first pass is measured too: a user of a fresh session pays for it;
5. prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1``.

With ``--trace 1`` an unmeasured pass runs first. Then every other op is
traced, shifted by one op in each pass, so over each pair of passes every
op of the mix runs once traced and once untraced. Traced ops run under
their own Spark job group, with spans around ``ExonSession.sql``
(session), ``read_format`` (sources), ``maybe_handle_copy`` (sinks), the
query spec (operators) and the action; each Spark job becomes a child
span from the UI REST API. The spans and a per-op self-time table are
written to ``perfbench/traces/``; ``trace_overhead_frac`` compares traced
with untraced op times of the same run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import fixtures
import workloads
from probes import Tracer, TreeSampler, covered, spark_jobs, stop_tree

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
N_SETUPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s_per_pass": "s",
    "peak_rss_mb": "MB",
}

LAYERS = ("session", "sources", "sinks", "operators", "action", "harness")
_PER_PASS = {
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "spark.job_s": "s",
    "driver_gap_s": "s",
    "op_wall_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "sources.read_format_calls": "count",
    "sinks.write_tasks": "count",
    "sinks.output_bytes": "bytes",
}
LAYER_UNITS = {
    **_PER_PASS,
    "session.sql_return_ms_p50": "ms",
    "sinks.out_bytes_per_in_byte": "ratio",
    "input_mb_per_s": "MB/s",
    "setup_cold_s": "s",
    "steal_pct": "%",
    "trace_overhead_frac": "ratio",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _env(work: str) -> None:
    """Pin the load and keep every file the run writes inside the
    checkout. Set before the JVM launches."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.phases: dict[str, float] = {}
        self.manifest: dict = {}
        self.wl = None
        self.ctx = workloads.Ctx(x=None, manifest=self.manifest, work=work)
        self.attempted = 0
        self.failed = 0
        self.tracer = None

    # ---------------------------------------------------------------- setup

    def setup(self) -> list[float]:
        """Set up N_SETUPS times; returns each set-up's seconds. The inputs
        are generated in a child process while the first set-up launches
        the JVM; the time spent waiting for them is not set-up time."""
        from exon_spark.session import ExonSession

        a = self.args
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fixtures.py"), a.workload, a.size, str(a.seed)],
            env={**os.environ, "PYTHONPATH": REPO},
        )
        times = []
        for i in range(N_SETUPS):
            if i:
                self.ctx.x.spark.stop()
            t0 = time.perf_counter()
            self.ctx.x = ExonSession()
            if not i:
                t1 = time.perf_counter()
                if gen.wait() != 0:
                    raise RuntimeError(f"input generation exited with {gen.returncode}")
                self.phases["inputs_wait_s"] = time.perf_counter() - t1
                t0 += self.phases["inputs_wait_s"]
                self.manifest = fixtures.ensure(a.workload, a.size, a.seed)
                self.wl = workloads.WORKLOADS[a.workload](self.manifest, a.seed)
                self.ctx.manifest = self.manifest
            self.wl.register(self.ctx.x)
            self.wl.warmup(self.ctx)
            times.append(time.perf_counter() - t0)
            self.ctx.x.spark.sparkContext.setLogLevel("ERROR")
        return times

    # ------------------------------------------------------------------ ops

    def run_op(self, op, traced: bool, seq: int) -> dict:
        sc = self.ctx.spark.sparkContext
        rec = {"op": op.name, "seq": seq, "traced": traced, "ok": False, "in_bytes": op.in_bytes}
        if traced:
            gid = f"perfbench-{seq}"
            sc.setJobGroup(gid, op.name)
            self.tracer.op_id = gid
            self.ctx.tracer = self.tracer
            span = self.tracer.span("harness")
            rec["span"] = span.__enter__()["id"]
        t0 = time.perf_counter()
        try:
            res = op.run(self.ctx)
            err = None
        except Exception as e:  # an op that raises counts as failed
            res, err = None, f"{op.name}: {type(e).__name__}: {e}"
        rec["wall_s"] = time.perf_counter() - t0
        if traced:
            span.__exit__(None, None, None)
            self.tracer.op_id = None
            self.ctx.tracer = None
            sc.setJobGroup("perfbench-check", "check")
        self.attempted += 1
        if err is None:
            try:
                rec["ok"] = bool(op.check(self.ctx, res))
                if not rec["ok"]:
                    err = f"{op.name}: output check failed"
            except Exception as e:
                err = f"{op.name}: check raised {type(e).__name__}: {e}"
        if err is not None:
            self.failed += 1
            print(f"# FAIL {err[:300]}", file=sys.stderr)
        return rec

    # ------------------------------------------------------------- measure

    def measure(self):
        sampler = TreeSampler()
        passes: list[list[dict]] = []
        seq = 0
        sampler.start()
        t0 = time.perf_counter()
        while True:
            recs = []
            for k, op in enumerate(self.wl.next_pass()):
                traced = bool(self.args.trace) and (k + len(passes)) % 2 == 1
                recs.append(self.run_op(op, traced, seq))
                seq += 1
            passes.append(recs)
            done = time.perf_counter() - t0 >= self.args.seconds
            if done and (not self.args.trace or len(passes) % 2 == 0):
                break
        window_s = time.perf_counter() - t0
        return passes, sampler.stop(), window_s

    # ----------------------------------------------------------------- main

    def run(self) -> dict:
        trace = bool(self.args.trace)
        setups = self.setup()
        t0 = time.perf_counter()
        self.wl.prepare(self.ctx)
        self.phases["prepare_s"] = time.perf_counter() - t0
        restore = []
        if trace:
            # traced and untraced passes are compared, so neither may be
            # the first pass of the session
            for op in self.wl.next_pass():
                self.run_op(op, False, -1)
            restore = self._install_tracer()
        try:
            passes, proc, window_s = self.measure()
        finally:
            for r in restore:
                r()
        ops = [r for p in passes for r in p]
        metrics: dict[str, float] = {}
        if not trace:
            metrics = {
                "setup_s": _median(setups),
                "pass_s": _median([sum(r["wall_s"] for r in p) for p in passes]),
                "cpu_s_per_pass": proc["cpu_s"] / len(passes),
                "peak_rss_mb": proc["peak_rss_mb"],
            }
            units = E2E_UNITS
        else:
            metrics = self._layer_metrics(passes, setups, proc)
            units = LAYER_UNITS
        print(
            f"# {self.args.workload} seed={self.args.seed} nproc={_nproc()} "
            f"passes={len(passes)} ops={len(ops)} window_s={window_s:.1f} "
            f"setups={[round(s, 2) for s in setups]} "
            f"phases={ {k: round(v, 1) for k, v in self.phases.items()} } steal_pct={proc['steal_pct']:.2f} "
            f"inputs={self._input_summary()}",
            file=sys.stderr,
        )
        by_op: dict[str, list[float]] = {}
        for r in ops:
            by_op.setdefault(r["op"], []).append(r["wall_s"])
        print("# op medians (s): " + ", ".join(
            f"{k}={_median(v):.2f}" for k, v in by_op.items()), file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def _input_summary(self) -> dict:
        return {
            k: {f: v[f] for f in v if f.startswith(("bytes", "rows"))}
            for k, v in self.manifest.items()
            if isinstance(v, dict)
        }

    # --------------------------------------------------------------- trace

    def _install_tracer(self):
        import exon_spark.sinks as sinks
        import exon_spark.sources as sources
        from exon_spark.session import ExonSession

        self.tracer = Tracer()
        return [
            self.tracer.wrap(ExonSession, "sql", "session"),
            self.tracer.wrap(sources, "read_format", "sources"),
            self.tracer.wrap(sinks, "maybe_handle_copy", "sinks", keep=lambda r: r is not None),
        ]

    def _layer_metrics(self, passes, setups, proc) -> dict:

        sc = self.ctx.spark.sparkContext
        traced = [r for p in passes for r in p if r["traced"]]
        plain = [r for p in passes for r in p if not r["traced"]]
        groups = {f"perfbench-{r['seq']}" for r in traced}
        jobs = spark_jobs(sc.uiWebUrl, sc.applicationId, groups)
        spans = self.tracer.spans
        by_id = {s["id"]: s for s in spans}
        # each job becomes a child of the innermost span of its op that
        # was open when the job was submitted
        for j in jobs:
            cands = [
                s for s in spans
                if s["op"] == j["group"] and s["start"] <= j["start"] <= s["end"]
            ]
            parent = max(cands, key=lambda s: s["start"]) if cands else None
            spans.append({
                "id": self.tracer._next_id, "parent": parent["id"] if parent else None,
                "op": j["group"], "name": "spark", "start": j["start"],
                "end": j["end"] or j["start"], "job": j,
            })
            self.tracer._next_id += 1
        kids: dict[int, list] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        per_op = {}
        for s in spans:
            row = per_op.setdefault(s["op"], {f"{layer}.self_s": 0.0 for layer in LAYERS})
            self_s = (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
            if s["name"] != "spark":
                row[f"{s['name']}.self_s"] += self_s
        table = []
        for r in traced:
            gid = f"perfbench-{r['seq']}"
            row = per_op.get(gid, {})
            js = [j for j in jobs if j["group"] == gid]
            root = by_id[r["span"]]
            job_s = covered([(j["start"], j["end"] or j["start"]) for j in js],
                            root["start"], root["end"])
            row.update({
                "op": r["op"],
                "op_wall_s": r["wall_s"],
                "spark.jobs": len(js),
                "spark.job_s": job_s,
                "driver_gap_s": r["wall_s"] - job_s,
                "sources.read_format_calls": sum(
                    1 for s in spans if s["op"] == gid and s["name"] == "sources"),
            })
            for k in ("stages", "tasks", "executor_cpu_s", "executor_run_s",
                      "input_bytes", "shuffle_bytes", "spill_bytes"):
                row[f"spark.{k}"] = sum(j[k] for j in js)
            sink_spans = {s["id"] for s in spans if s["op"] == gid and s["name"] == "sinks"}
            sink_jobs = [s["job"] for s in spans if s.get("job") and s["parent"] in sink_spans]
            row["sinks.write_tasks"] = sum(j["tasks"] for j in sink_jobs if j["output_bytes"])
            row["sinks.output_bytes"] = sum(j["output_bytes"] for j in sink_jobs)
            row["in_bytes"] = r["in_bytes"]
            row["session_ms"] = [
                1000 * (s["end"] - s["start"]) for s in spans
                if s["op"] == gid and s["name"] == "session"]
            table.append(row)
        n = len(traced) / len(passes[0])  # traced ops, in passes
        m = {k: sum(row.get(k, 0.0) for row in table) / n for k in _PER_PASS}
        m["session.sql_return_ms_p50"] = _median([v for row in table for v in row["session_ms"]])
        sink_in = sum(row["in_bytes"] for row in table if row["sinks.output_bytes"])
        m["sinks.out_bytes_per_in_byte"] = (
            sum(row["sinks.output_bytes"] for row in table) / sink_in if sink_in else 0.0)
        m["input_mb_per_s"] = sum(row["in_bytes"] for row in table) / 2**20 / sum(
            row["op_wall_s"] for row in table)
        m["setup_cold_s"] = setups[0]
        m["steal_pct"] = proc["steal_pct"]
        m["trace_overhead_frac"] = self._overhead(plain, traced)
        self._write_trace(spans, table, m)
        return m

    @staticmethod
    def _overhead(plain, traced) -> float:
        """Median over op kinds of (traced median / untraced median) - 1."""
        by: dict[str, tuple[list, list]] = {}
        for group, idx in ((plain, 0), (traced, 1)):
            for r in group:
                by.setdefault(r["op"], ([], []))[idx].append(r["wall_s"])
        ratios = [_median(t) / _median(u) for u, t in by.values() if u and t]
        return _median(ratios) - 1.0

    def _write_trace(self, spans, table, metrics) -> None:
        out_dir = os.path.join(HERE, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-s{self.args.seed}.json")
        cols = [f"{layer}.self_s" for layer in LAYERS] + ["spark.job_s", "driver_gap_s", "op_wall_s"]
        with open(path, "w") as fh:
            json.dump({
                "load": {"nproc": _nproc(), "client_threads": 1,
                         "spark_conf": dict(self.ctx.spark.sparkContext.getConf().getAll())},
                "spans": spans, "self_time_per_op": table, "metrics": metrics,
            }, fh)
        print(f"# trace written to {os.path.relpath(path, REPO)}", file=sys.stderr)
        print("# per-op self time (s): op " + " ".join(cols), file=sys.stderr)
        for row in table:
            print("#   " + row["op"] + " " + " ".join(f"{row.get(c, 0.0):.3f}" for c in cols),
                  file=sys.stderr)


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM (its Python workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("region_lookup", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "exon_spark", "session.py")):
        print(f"perfbench: no exon_spark package under {REPO}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    # a terminated run still stops the JVM and its workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _env(work)
    runner = None
    try:
        runner = Runner(args, work)
        result = runner.run()
    finally:
        if runner is not None and runner.ctx.x is not None:
            _shutdown(runner.ctx.x.spark)
        stop_tree()  # anything left, e.g. an input generator cut short
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
