"""Closed-loop benchmark of the engine's registered keys, checked against DuckDB.

One client runs one workload's keys one after another, each built through
``__spark_entry__.queries()[key](spark, sf_dir)`` and materialized with
``toPandas()``; every result is then checked against its oracle digest.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 1 --trace 0

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer ones (see README.md beside this file).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import asdict

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(HERE, ".run")
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import workloads  # noqa: E402
from expected import Expected, result_digest  # noqa: E402
from sparkstate import LAUNCH_CONFS, SparkState  # noqa: E402
from spans import Tracer  # noqa: E402

# The engine tree is copied without these: VCS data, build and run
# leftovers, the repository's own staged stores, this benchmark, and the
# plan dumps under plans/, which nothing reads at run time.
_NOT_COPIED = {
    ".git",
    ".scratch",
    ".bench_build",
    ".pytest_cache",
    ".hypothesis",
    "__pycache__",
    "spark-warehouse",
    "metastore_db",
    "plans",
    os.path.basename(HERE),
}


def host_cpus() -> int:
    """Cores this process may run on (``env -u OMP_NUM_THREADS nproc``)."""
    return len(os.sched_getaffinity(0))


def _ignore_top(src: str, names: list[str]) -> set[str]:
    if os.path.samefile(src, ROOT):
        return {n for n in names if n in _NOT_COPIED}
    return {n for n in names if n == "__pycache__"}


def _kill_descendants(timeout_s: float = 30.0) -> None:
    """Kill whatever this process still has below it and wait until it is gone."""
    me = os.getpid()
    left = [pid for pid in procstat.descendants(me) if pid != me]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while left and time.monotonic() < deadline:
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)  # reaps direct children
            except ChildProcessError:
                pass
        left = [pid for pid in left if os.path.exists(f"/proc/{pid}")]
        time.sleep(0.05)


def _clear_stale_work_dirs() -> None:
    """Remove work directories left by runs whose process is gone."""
    if not os.path.isdir(RUN_DIR):
        return
    for name in os.listdir(RUN_DIR):
        if not name.startswith("work-"):
            continue
        pid = int(name.rsplit("-", 1)[1])
        if not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(RUN_DIR, name), ignore_errors=True)


class Bench:
    """One benchmark run: private engine copy, set-up, timed passes, teardown."""

    def __init__(
        self,
        workload: str,
        seed: int,
        seconds: float,
        trace: bool,
        fixture: str = workloads.FIXTURE,
        keys: list[str] | None = None,
        expected_override: dict[str, tuple[int, str]] | None = None,
    ):
        self.workload = workload
        self.keys = list(keys or workloads.WORKLOADS[workload]["keys"])
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.fixture = fixture
        self.sf_dir = os.path.join(HERE, "data", fixture)
        self.expected_override = expected_override or {}
        self.cpus = host_cpus()
        self.work_dir = os.path.join(RUN_DIR, f"work-{workload}-{os.getpid()}")
        self.excluded_s = 0.0  # oracle and calibration time, kept out of setup_s
        self.setup: dict[str, float] = {}
        self.passes: list[dict] = []
        self.context: dict = {"cores": self.cpus, "fixture": fixture, "keys": self.keys}
        self.spark = None

    # ---- set-up -------------------------------------------------------
    def _stage_private_copy(self) -> str:
        """Copy the checkout's engine files into a fresh work directory.

        The copy starts with an empty ``.scratch``, so every store a key
        stages is staged by this run, and the checkout's own state is never
        read or written.
        """
        _clear_stale_work_dirs()
        shutil.rmtree(self.work_dir, ignore_errors=True)
        tree = os.path.join(self.work_dir, "tree")
        shutil.copytree(ROOT, tree, ignore=_ignore_top, symlinks=True)
        for sub in ("local", "tmp"):
            os.makedirs(os.path.join(self.work_dir, sub))
        return tree

    def _launch_env(self, tree: str) -> None:
        tmp = os.path.join(self.work_dir, "tmp")
        confs = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in LAUNCH_CONFS.items())
        os.environ.update(
            {
                # Every JVM, the launcher's included, keeps its files in the
                # work directory instead of /tmp.
                "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "SPARK_GRAFT_CPUS": str(self.cpus),
                "SPARK_GRAFT_DRIVER_MEM": workloads.DRIVER_MEM,
                "SPARK_LOCAL_DIRS": os.path.join(self.work_dir, "local"),
                "TMPDIR": tmp,
                "PYTHONPATH": os.pathsep.join(
                    p for p in (tree, os.environ.get("PYTHONPATH", "")) if p
                ),
                # The driver heap is committed and touched up front, so peak
                # RSS reports the memory the engine uses beyond the heap
                # instead of the collector's run-to-run resizing, which
                # swung it by 0.5-0.8 GB between identical runs.
                "PYSPARK_SUBMIT_ARGS": (
                    f"{confs} --driver-java-options "
                    f"{shlex.quote(f'-Xms{workloads.DRIVER_MEM} -XX:+AlwaysPreTouch')} pyspark-shell"
                ),
            }
        )
        os.chdir(tree)
        sys.path.insert(0, tree)

    def _run_setup(self) -> None:
        tr = self.tracer
        with tr.span("setup"):
            with tr.span("copy"):
                tree = self._stage_private_copy()
                self._launch_env(tree)
            t0 = time.perf_counter()
            with tr.span("session"):
                from data_transform_spark.session import get_spark

                self.spark = get_spark("perfbench")
            self.setup["session.get_spark_s"] = time.perf_counter() - t0
            self.state = SparkState(self.spark)

            t0 = time.perf_counter()
            with tr.span("import"):
                import __spark_entry__ as em
                from data_transform_spark.registry import QUERIES
                from tests.oracle import canonical_rows, duckdb_connect
            self.setup["entry.import_s"] = time.perf_counter() - t0
            self.canonical_rows = canonical_rows

            t0 = time.perf_counter()
            with tr.span("queries"):
                self.queries = em.queries()
                oracle_sql = em.oracle_sql()
            self.setup["entry.queries_s"] = time.perf_counter() - t0
            self.layers = {k: workloads.layer_of(QUERIES[k].__module__) for k in self.keys}

            t0 = time.perf_counter()
            no_oracle = [k for k in self.keys if k not in oracle_sql]
            if no_oracle:
                raise SystemExit(f"keys without an oracle: {no_oracle}")
            self.expected = Expected(
                self.fixture, oracle_sql, os.path.join(RUN_DIR, "expected-cache.json")
            )
            self.expected.compute(self.keys, self.sf_dir, duckdb_connect, canonical_rows)
            self.excluded_s += time.perf_counter() - t0

            warm = self.context["warm_key_s"] = {key: [] for key in self.keys}
            with tr.span("warm"):
                for _ in range(workloads.WORKLOADS[self.workload].get("warm_passes", 1)):
                    for key in self.keys:
                        t0 = time.perf_counter()
                        try:
                            self.queries[key](self.spark, self.sf_dir).toPandas()
                        except Exception:  # noqa: BLE001 — counted in the timed passes
                            print(f"warm pass: {key} raised", file=sys.stderr)
                            traceback.print_exc()
                        warm[key].append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        self.context["calib_before"] = procstat.calibrate(self.spark)
        self.excluded_s += time.perf_counter() - t0

    # ---- one key ------------------------------------------------------
    def _run_key(self, key: str) -> dict:
        tr = self.tracer
        traced = tr.enabled
        rec: dict = {"key": key, "layer": self.layers[key], "error": None}
        pdf = None
        with tr.span("key", key=key):
            cpu0 = procstat.tree_cpu()
            mark0 = self.state.mark() if traced else None
            t0 = time.perf_counter()
            t1 = t0
            try:
                with tr.span("build"):
                    df = self.queries[key](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tr.span("action"):
                    pdf = df.toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed key is counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            t2 = time.perf_counter()
            cpu1 = procstat.tree_cpu()
            rec["build_s"], rec["action_s"], rec["wall_s"] = t1 - t0, t2 - t1, t2 - t0
            rec["cpu_s"] = cpu1["total"] - cpu0["total"]
            for part in ("driver", "jvm", "pyworker"):
                rec[f"{part}_cpu_s"] = cpu1[part] - cpu0[part]
            rec["counters_s"] = 0.0
            if traced:
                mark1 = self.state.mark()
                with tr.span("counters"):
                    rec["spark"] = self.state.work(mark0, mark1)
                    rec["rdds_held"] = self.state.persistent_rdds()
                rec["counters_s"] = time.perf_counter() - t2
            with tr.span("check"):
                rec["ok"] = rec["error"] is None and self._check(key, pdf, rec)
        return rec

    def _check(self, key: str, pdf, rec: dict) -> bool:
        want = self.expected_override.get(key) or self.expected.get(key)
        got = result_digest(pdf, self.canonical_rows)
        if got != want:
            rec["error"] = f"result differs from oracle: rows {got[0]} vs {want[0]}"
            return False
        return True

    # ---- passes -------------------------------------------------------
    def _run_pass(self, index: int) -> dict:
        order = list(self.keys)
        random.Random(f"{self.seed}:{index}").shuffle(order)
        traced = self.tracer.enabled
        with self.tracer.span("pass", index=index):
            mark0 = self.state.mark() if traced else None
            keys = [self._run_key(k) for k in order]
            mark1 = self.state.mark() if traced else None
        return {
            # Counter reads are tracing cost, so they count in a traced pass.
            "wall_s": sum(k["wall_s"] + k["counters_s"] for k in keys),
            "cpu_s": sum(k["cpu_s"] for k in keys),
            "keys": keys,
            "mark": [mark0, mark1],
        }

    def run(self) -> None:
        steal0 = procstat.steal_ticks()
        try:
            with self.tracer.span("run"):
                self._run_phases(steal0)
        finally:
            self._teardown()

    def _run_phases(self, steal0: int) -> None:
        self._run_setup()
        self.setup["setup_s"] = time.perf_counter() - T_START - self.excluded_s
        steal1 = procstat.steal_ticks()
        t_timed = time.perf_counter()
        with procstat.RssSampler() as rss:
            min_passes = workloads.WORKLOADS[self.workload].get("min_passes", 1)
            while len(self.passes) < min_passes or time.perf_counter() - t_timed < self.seconds:
                self.passes.append(self._run_pass(len(self.passes)))
        self.context["peak_rss_mb"] = rss.peak
        self.context["timed_s"] = time.perf_counter() - t_timed
        self.context["steal_ticks"] = {
            "setup": steal1 - steal0,
            "timed": procstat.steal_ticks() - steal1,
        }
        self.context["calib_after"] = procstat.calibrate(self.spark)
        if self.tracer.enabled:
            self.context["io.scan_s"] = self._scan_floor()

    def _scan_floor(self) -> float:
        """Seconds for one full read of every input table of the workload."""
        from data_transform_spark.io import load_table

        t0 = time.perf_counter()
        with self.tracer.span("scan_floor"):
            for table in workloads.WORKLOADS[self.workload]["tables"]:
                load_table(self.spark, self.sf_dir, table).write.format("noop").mode(
                    "overwrite"
                ).save()
        return time.perf_counter() - t0

    def _teardown(self) -> None:
        """Stop Spark, wait for the JVM and its workers, drop the work dir."""
        os.chdir(HERE)
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _kill_descendants()
        shutil.rmtree(self.work_dir, ignore_errors=True)

    # ---- results ------------------------------------------------------
    def attempted_failed(self) -> tuple[int, int, list[str]]:
        recs = [k for p in self.passes for k in p["keys"]]
        bad = [f"{k['key']}: {k['error']}" for k in recs if not k["ok"]]
        return len(recs), len(bad), bad

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        attempted, failed, _ = self.attempted_failed()
        return {
            "setup_s": (self.setup["setup_s"], "s"),
            "pass_s": (statistics.median(p["wall_s"] for p in self.passes), "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in self.passes), "s"),
            "ops_ok_frac": ((attempted - failed) / attempted, "frac"),
            "peak_rss_mb": (self.context["peak_rss_mb"]["total"], "MB"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        per_pass = []
        for p in self.passes:
            sums = {layer: dict.fromkeys(workloads.MEASURES, 0.0) for layer in workloads.LAYERS}
            for k in p["keys"]:
                s, w = sums[k["layer"]], k["spark"]
                s["build_s"] += k["build_s"]
                s["action_s"] += k["action_s"]
                s["jobs"] += len(w.job_ids)
                s["tasks"] += w.tasks
                s["exec_cpu_s"] += w.exec_cpu_s
                s["gc_s"] += w.gc_s
                s["shuffle_mb"] += w.shuffle_mb
                s["driver_gap_s"] += k["wall_s"] - w.exec_run_s / self.cpus
                s["pyworker_cpu_s"] += k["pyworker_cpu_s"]
            per_pass.append(sums)
        out = {}
        for layer in workloads.LAYERS:
            for measure, unit in workloads.MEASURES.items():
                vals = [s[layer][measure] for s in per_pass]
                out[f"{layer}.{measure}"] = (statistics.median(vals), unit)
        for name in ("session.get_spark_s", "entry.import_s", "entry.queries_s"):
            out[name] = (self.setup[name], "s")
        out["io.scan_s"] = (self.context["io.scan_s"], "s")
        recs = [k for p in self.passes for k in p["keys"]]
        out["spark.rdds_held_max"] = (max(k["rdds_held"] for k in recs), "count")
        out["spark.tasks_failed"] = (sum(k["spark"].tasks_failed for k in recs), "count")
        # Minus pass_s of untraced runs of the workload, this is the tracing overhead.
        out["trace.pass_s"] = (statistics.median(p["wall_s"] for p in self.passes), "s")
        return out

    def job_accounting(self) -> dict:
        """Per pass of a traced run: jobs launched vs jobs attributed to its keys."""
        rows = []
        for p in self.passes:
            (j0, _), (j1, _) = p["mark"]
            keyed = sum(len(k["spark"].job_ids) for k in p["keys"])
            missing = sum(len(k["spark"].missing_jobs) for k in p["keys"])
            rows.append({"launched": j1 - j0, "attributed": keyed, "missing": missing})
        return {"passes": rows, "ok": all(r["launched"] == r["attributed"] and not r["missing"] for r in rows)}

    def report(self) -> dict:
        attempted, failed, bad = self.attempted_failed()
        metrics = self.per_layer() if self.tracer.enabled else self.end_to_end()
        walls = sorted(p["wall_s"] for p in self.passes)
        self.context.update(
            {
                "workload": self.workload,
                "seed": self.seed,
                "setup": self.setup,
                "setup_excluded_s": self.excluded_s,
                "passes": len(self.passes),
                "pass_s": walls,
                "key_wall_s": {
                    k: [r["wall_s"] for p in self.passes for r in p["keys"] if r["key"] == k]
                    for k in self.keys
                },
                # With fewer than eleven passes no percentile has ten samples
                # beyond it, so the largest pass stands in for the tail.
                "pass_s_max": walls[-1],
                "failures": bad,
            }
        )
        if self.tracer.enabled:
            self.context["jobs"] = self.job_accounting()
            path = os.path.join(RUN_DIR, f"trace-{self.workload}-{self.seed}.json")
            self.tracer.write(path, context=self.context, passes=_jsonable(self.passes))
            self.context["trace_file"] = os.path.relpath(path, ROOT)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }


def _jsonable(passes: list[dict]) -> list[dict]:
    return [
        {**p, "keys": [{**k, "spark": asdict(k["spark"])} if "spark" in k else k for k in p["keys"]]}
        for p in passes
    ]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("SPARK_GRAFT_DEBUG"):
        print(
            "run.py: unset SPARK_GRAFT_DEBUG; its diagnostic jobs would be timed as key work",
            file=sys.stderr,
        )
        return 2
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"run.py: no engine (__spark_entry__.py) in {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(RUN_DIR, exist_ok=True)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    bench.run()
    result = bench.report()
    print(json.dumps({"context": bench.context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
