"""linkgraph benchmark.

    python3 perfbench/run.py --workload stream-partition --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/NOTES.md for why each exists):

- ``stream-partition``  chunked HDRF + grid with quality metrics, then
  CSR blocks and CSR PageRank supersteps (the Python UDF boundary).
- ``superstep-join``    join-based PageRank, CC, LPA, triangles and the
  CLI's checkpointed PageRank, all in one session (JVM joins only).

A run generates its input from ``--seed`` (once per seed), sets up the
Spark session and the cached edge table once cold (JVM launch
included) and then several times warm, then runs passes until
``--seconds`` have elapsed (at least one), checking every pass's
outputs against the repository's oracles.  The last stdout line
is one JSON object: end-to-end metrics with ``--trace 0``, per-layer
span metrics with ``--trace 1``.  Earlier lines are a readable report;
the full record (environment, every span row) is written under
``.perfbench-work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SF = 0.01
WARM_SETUP_REPS = 5
DRIVER_MEMORY_GB = 2
WORKLOADS = ("stream-partition", "superstep-join")

SPAN_FIELDS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "tree_cpu_s": "s",
}
LAYER_SPANS = (
    "graph.edges_from_lineitem",
    "partition.hdrf_spark", "partition.grid", "partition.metrics",
    "csr.prepare_csr_blocks", "csr.pagerank_csr_blocks",
    "algos.pagerank", "algos.cc", "algos.lpa", "algos.triangles",
    "cli.run_job",
)
LAYER_EXTRA = {  # name: (unit, better)
    "graph.edges_from_lineitem.input_mb": ("MB", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "pass_tree_cpu_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "setup.cold_s": ("s", "lower"),
    "cpu_control_s": ("s", "lower"),
    "warmup_pass_s": ("s", "lower"),
    "trace.pass_s_untraced": ("s", "lower"),
    "trace.pass_s_traced": ("s", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    "trace.collect_s": ("s", "lower"),
    "partition.hdrf_spark.jobs_spread": ("count", "lower"),
    "hdrf_edges_per_s": ("edges/s", "higher"),
    "csr_edges_per_s": ("edges/s", "higher"),
    "pagerank_edges_per_s": ("edges/s", "higher"),
    "rf_hdrf_chunked": ("ratio", "lower"),
    "alpha_hdrf_chunked": ("ratio", "lower"),
    "rf_grid": ("ratio", "lower"),
    "fail_ratio": ("ratio", "lower"),
}
END_TO_END = {"setup_s": "s", "pass_s": "s"}


# ------------------------------------------------------------ environment

def pin_environment(work: Path) -> dict:
    """Fix what the run depends on and return it for the record."""
    # Spark gets half the CPUs.  With all of them running tasks, the JIT,
    # the GC and the Python driver and workers compete with the task
    # threads, and pass times follow the host's load far more closely
    # (perfbench/NOTES.md, "Steadiness").
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 1024 / 1024
    driver_gb = max(1, min(DRIVER_MEMORY_GB, int(mem_gb // 2)))
    local_dirs, tmp = work / "spark-local", work / "tmp"
    local_dirs.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": str(local_dirs),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # keep temporary files inside the checkout: Python's tempfile, the
        # JVMs' java.io.tmpdir, and no hsperfdata files under /tmp
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    return {
        "master": f"local[{cores}]", "nproc": nproc, "cores": cores,
        "mem_gb": round(mem_gb, 1), **pinned,
    }


def source_identity() -> dict:
    """Git SHA when the checkout is a repository, plus a digest of the
    library and CLI sources, which works without git."""
    digest = hashlib.sha256()
    for path in sorted([*ROOT.glob("linkgraph/**/*.py"), *ROOT.glob("jobs/*.py")]):
        digest.update(str(path.relative_to(ROOT)).encode())
        digest.update(path.read_bytes())
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None
    return {"git_sha": sha, "source_sha256": digest.hexdigest()[:16]}


class ProcessTree:
    """CPU time and resident set of this process and all its descendants
    (JVM, Python workers, spark-submit), read from /proc.  A background
    thread samples the resident set every 200 ms while armed and keeps
    the peak."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def scan(self) -> tuple[float, int]:
        """(CPU seconds, resident bytes) summed over the tree.  CPU
        includes reaped children (cutime/cstime), so work done by
        short-lived workers is not lost when they exit."""
        procs: dict[int, tuple[int, int, int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                procs[int(entry)] = (int(f[1]), sum(map(int, f[11:15])), int(f[21]))
            except (OSError, IndexError, ValueError):
                continue
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        ticks = pages = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            if pid in procs:
                ticks += procs[pid][1]
                pages += procs[pid][2]
        return ticks / self._tick, pages * self._page

    def cpu_s(self) -> float:
        return self.scan()[0]

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            if self._armed.is_set():
                self.peak_bytes = max(self.peak_bytes, self.scan()[1])

    def arm(self, on: bool) -> None:
        (self._armed.set if on else self._armed.clear)()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ spark session

def start_session(run_dir: Path, cores: int):
    from linkgraph.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM this process launched,
    and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user … steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(sum(delta), 1)


def cpu_control(spark, cores: int) -> float:
    """Pure-codegen CPU control: no shuffle, no Python. Best of three."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 100_000_000, 1, 2 * cores).selectExpr("sum(id * 3 % 7)").collect()
        times.append(time.perf_counter() - t0)
    return min(times)


# ------------------------------------------------------------ run

def median(values):
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, args, env: dict, work: Path):
        import gen
        import workloads as wl
        from spans import Tracer

        self.args, self.wl = args, wl
        self.cores = env["cores"]
        self.run_dir = work / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.run_dir.mkdir(parents=True)
        self.sf_dir = gen.write_sf_dir(work / "data", SF, args.seed)
        orderkey, partkey = gen.lineitem_columns(SF, args.seed)
        edge_array = gen.co_occurrence_edges(orderkey, partkey)
        self.ctx = wl.Context(
            root=ROOT, run_dir=self.run_dir, sf_dir=self.sf_dir,
            edge_list=list(map(tuple, edge_array.tolist())),
        )
        self.edge_array = edge_array
        self.proc = ProcessTree()
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.record: dict = {}
        self.passes: list[dict] = []
        self.setup_walls: list[float] = []
        self.setup_rows: list[dict] = []
        self.tracer = Tracer(enabled=bool(args.trace), cpu_clock=self.proc.cpu_s)
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Charge the time since the previous mark to ``name``."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._mark
        self._mark = now

    def note(self, fails: list[str]) -> None:
        self.attempted += 1
        if fails:
            self.failed += 1
            self.failures.extend(fails)

    def setup(self) -> None:
        """Session start, then edges extracted, cached and counted.  Rep 0
        launches the JVM and is recorded as ``setup.cold_s``; the warm
        reps after it restart the session in the same JVM, and their
        median is ``setup_s``."""
        from linkgraph.graph import edges_from_lineitem

        ctx, tracer = self.ctx, self.tracer
        self.phase("inputs")
        for rep in range(1 + WARM_SETUP_REPS):
            if ctx.spark is not None:
                ctx.edges.unpersist()
                ctx.spark.stop()
            t0 = time.perf_counter()
            ctx.spark = start_session(self.run_dir, self.cores)
            if rep == 0:
                self.record["session.start_s"] = time.perf_counter() - t0
            tracer.bind(ctx.spark)
            with tracer.span("graph.edges_from_lineitem"):
                ctx.edges = edges_from_lineitem(ctx.spark, str(self.sf_dir)).cache()
                ctx.edges.count()
            self.setup_walls.append(time.perf_counter() - t0)
        self.record["setup.cold_s"] = self.setup_walls[0]
        self.setup_rows = tracer.rows[1:]  # the warm reps
        tracer.rows.clear()
        self.phase("setup")
        got = ctx.edges.toPandas().sort_values(["src", "dst"]).to_numpy()
        same = got.shape == self.edge_array.shape and (got == self.edge_array).all()
        self.note([] if same else ["edges_from_lineitem differs from the generator's edge set"])
        self.record["cpu_control_s"] = cpu_control(ctx.spark, self.cores)
        self.phase("edge_check_and_control")

    def run_passes(self, do_pass, check) -> None:
        """Untraced: passes until --seconds elapse (at least one).  Traced:
        a traced warm-up pass first, then untraced/traced pairs until
        --seconds elapse (at least one pair)."""
        trace, tracer = bool(self.args.trace), self.tracer
        self.warmup = int(trace)
        t_start = time.perf_counter()
        i = 0
        while True:
            elapsed = time.perf_counter() - t_start
            k = i - self.warmup  # index within the untraced/traced pairs
            done = k >= 2 and k % 2 == 0 if trace else i >= 1
            if done and elapsed >= self.args.seconds:
                break
            traced = trace and (k < 0 or k % 2 == 1)
            tracer.enabled = traced
            first_row = len(tracer.rows)
            self.phase("between_passes")
            self.proc.arm(True)
            host0, cpu0, t0 = host_cpu_ticks(), self.proc.cpu_s(), time.perf_counter()
            try:
                out = do_pass(tracer)
                wall = time.perf_counter() - t0
                cpu = self.proc.cpu_s() - cpu0
                steal = steal_pct(host0, host_cpu_ticks())
            except Exception:
                self.proc.arm(False)
                traceback.print_exc()
                self.note(["pass raised: " + traceback.format_exc(limit=1).strip()])
                return
            self.proc.arm(False)
            self.phase("passes")
            try:
                fails, extra = check(out)
            except Exception:
                traceback.print_exc()
                fails, extra = ["check raised: " + traceback.format_exc(limit=1).strip()], {}
            self.note(fails)
            self.phase("checks")
            self.passes.append({
                "index": i, "traced": traced, "wall_s": wall, "cpu_s": cpu,
                "host_steal_pct": steal, "fails": fails,
                "extra": extra, "rows": tracer.rows[first_row:],
            })
            i += 1

    def run(self, do_pass, check) -> None:
        try:
            self.setup()
            self.run_passes(
                lambda tr: do_pass(self.ctx, tr), lambda out: check(self.ctx, out)
            )
        finally:
            if self.ctx.spark is not None:
                stop_jvm(self.ctx.spark)
            self.phase("stop")

    # metrics -------------------------------------------------------------
    def span_table(self, passes) -> dict:
        """Per span: the median over passes of each field's per-pass sum."""
        per_pass: dict[str, list[dict]] = {}
        for p in passes:
            sums: dict[str, dict] = {}
            for row in p["rows"]:
                acc = sums.setdefault(row["span"], dict.fromkeys(row, 0.0))
                for k, v in row.items():
                    if isinstance(v, (int, float)):
                        acc[k] = acc.get(k, 0.0) + v
            for name, acc in sums.items():
                per_pass.setdefault(name, []).append(acc)
        return {
            name: {k: median([r[k] for r in rows if k in r]) for k in rows[0] if k != "span"}
            for name, rows in per_pass.items()
        }

    def kernel_walls(self, passes, name: str, target: str | None = None) -> list[float]:
        walls = []
        for p in passes:
            rows = [r for r in p["rows"] if r["span"] == name and r.get("target", target) == target]
            if rows:
                walls.append(sum(r["wall_s"] for r in rows))
        return walls

    def derived(self, passes) -> dict:
        """Kernel throughputs and quality from the given passes."""
        wl, m = self.wl, self.ctx.m
        hdrf = [
            a + b for a, b in zip(
                self.kernel_walls(passes, "partition.hdrf_spark"),
                self.kernel_walls(passes, "partition.metrics", "hdrf"),
            )
        ]
        csr = self.kernel_walls(passes, "csr.pagerank_csr_blocks")
        pr = self.kernel_walls(passes, "algos.pagerank")
        out = {
            "hdrf_edges_per_s": m / median(hdrf) if hdrf else 0.0,
            "csr_edges_per_s": 2 * m * wl.CSR_STEPS / median(csr) if csr else 0.0,
            "pagerank_edges_per_s": 2 * m * wl.PR_ITERS / median(pr) if pr else 0.0,
        }
        out["peak_rss_mb"] = self.proc.peak_bytes / 2**20
        out["pass_tree_cpu_s"] = median([p["cpu_s"] for p in passes])
        for key in ("rf_hdrf_chunked", "alpha_hdrf_chunked", "rf_grid"):
            vals = [p["extra"][key] for p in passes if key in p["extra"]]
            out[key] = median(vals) if vals else 0.0
        return out

    def end_to_end(self) -> tuple[dict, dict]:
        passes = [p for p in self.passes if not p["traced"]]
        d = self.derived(passes)
        pass_s = median([p["wall_s"] for p in passes])
        setup_s = median(self.setup_walls[1:])  # warm reps only
        return {"setup_s": setup_s, "pass_s": pass_s}, d

    def per_layer(self) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        timed_traced = traced[self.warmup:]
        untraced = [p for p in self.passes if not p["traced"]]
        table = self.span_table(timed_traced)
        # one row per warm set-up rep: report the median rep
        table.update(self.span_table([{"rows": [r]} for r in self.setup_rows]))
        metrics = {}
        for name in LAYER_SPANS:
            row = table.get(name, {})
            for field, unit in SPAN_FIELDS.items():
                metrics[f"{name}.{field}"] = (row.get(field, 0.0), unit)
        metrics["graph.edges_from_lineitem.input_mb"] = (
            table["graph.edges_from_lineitem"].get("input_mb", 0.0), "MB")
        for key in ("session.start_s", "setup.cold_s", "cpu_control_s"):
            metrics[key] = (self.record[key], "s")
        t_un = median([p["wall_s"] for p in untraced])
        t_tr = median([p["wall_s"] for p in timed_traced])
        metrics["warmup_pass_s"] = (traced[0]["wall_s"], "s")
        metrics["trace.pass_s_untraced"] = (t_un, "s")
        metrics["trace.pass_s_traced"] = (t_tr, "s")
        metrics["trace.overhead_pct"] = (100.0 * (t_tr / t_un - 1.0) if t_un else 0.0, "%")
        # the tracer's own time per traced pass: reading job and stage data
        metrics["trace.collect_s"] = (median([
            sum(r.get("collect_s", 0.0) for r in p["rows"]) for p in timed_traced
        ]), "s")
        hdrf_jobs = [
            sum(r["jobs"] for r in p["rows"] if r["span"] == "partition.hdrf_spark")
            for p in traced
        ]
        metrics["partition.hdrf_spark.jobs_spread"] = (
            max(hdrf_jobs) - min(hdrf_jobs) if hdrf_jobs else 0, "count")
        for key, val in self.derived(untraced).items():
            metrics[key] = (val, LAYER_EXTRA[key][0])
        metrics["fail_ratio"] = (self.failed / max(self.attempted, 1), "ratio")
        return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "linkgraph" / "__init__.py").is_file() or not (
        ROOT / "jobs" / "run_job.py"
    ).is_file():
        print(f"perfbench: no linkgraph sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    work = ROOT / ".perfbench-work"
    env = pin_environment(work)
    t_process = time.perf_counter()
    run = Run(args, env, work)
    try:
        import workloads as wl

        if args.workload == "stream-partition":
            run.run(wl.stream_partition, wl.check_stream_partition)
        else:
            run.run(wl.superstep_join, wl.check_superstep_join)
    finally:
        run.proc.close()
        shutil.rmtree(run.run_dir, ignore_errors=True)

    if not run.passes:
        print("perfbench: no pass completed", file=sys.stderr)
        return 1
    e2e, derived = run.end_to_end()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": SF, "edges": run.ctx.m,
        "env": env, **source_identity(),
        "spark_version": __import__("pyspark").__version__,
        "process_s": time.perf_counter() - t_process, "phases": run.phases,
        **run.record, "setup_walls": run.setup_walls,
        "end_to_end": e2e, "derived": derived,
        "fail_ratio": run.failed / max(run.attempted, 1),
        "failures": run.failures,
        "passes": run.passes,
        "setup_spans": run.setup_rows,
    }
    if args.trace:
        metrics = run.per_layer()
        record["per_layer"] = {k: v[0] for k, v in metrics.items()}
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    results = work / "results"
    results.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )

    print(f"# {args.workload} seed={args.seed} sf={SF} edges={run.ctx.m} "
          f"master={env['master']} driver_memory={env['SPARK_DRIVER_MEMORY']} "
          f"spark={record['spark_version']} git={record['git_sha']} src={record['source_sha256']}")
    print(f"# passes={len(run.passes)} attempted={run.attempted} failed={run.failed} "
          f"fail_ratio={record['fail_ratio']:.3f} cpu_control_s={run.record.get('cpu_control_s', 0):.3f}")
    for fail in run.failures:
        print(f"# FAIL {fail}")
    shown = {**{k: (v, END_TO_END[k]) for k, v in e2e.items()},
             **{k: (v, LAYER_EXTRA[k][0]) for k, v in derived.items()},
             "fail_ratio": (record["fail_ratio"], "ratio")}
    if args.trace:
        shown.update(metrics)
    for name, (value, unit) in shown.items():
        print(f"{name:48s} {value:16.6f} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
