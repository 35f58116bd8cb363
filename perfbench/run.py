"""Benchmark of the instruction-MR engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload {mr_http,staged} --seed N --seconds S --trace {0,1}
                             [--llm-latency-ms MS]

The harness generates the workload's inputs from ``--seed``, starts the
mock LLM service for ``mr_http``, and runs each Spark session in a fresh
``worker.py`` process on ``local[nproc-1]``.  With ``--trace 0`` it
reports the end-to-end metrics: the session's set-up time (process
start through the cold warm-up pass), the median wall and CPU time of
the warm passes run over ``--seconds``, and the process tree's peak
RSS.  With ``--trace 1`` it runs an untraced and then a traced session,
``--seconds / 2`` each, and reports the per-layer metrics of the traced
one with ``trace.overhead_frac``, the traced median pass wall over the
untraced one, minus 1.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; a fuller record with the
environment stamp, every pass and every failing operation is written
under ``.perfbench_work/<workload>/``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import procfs
from workloads import TABLES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PR_SET_CHILD_SUBREAPER = 36
RUN_LIMIT_S = 170  # a run must end within 180 s
MOCK_BUSY_LIMIT = 0.5


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_digest() -> str:
    """Content hash of the program's sources (the checkout may not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "instructions_mr_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    return (out.stderr or out.stdout).splitlines()[0] if out.returncode == 0 else "unknown"


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {name[: -len(".parquet")]: pq.ParquetFile(os.path.join(sf_dir, name)).metadata.num_rows
            for name in sorted(os.listdir(sf_dir)) if name.endswith(".parquet")}


class Harness:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.work = os.path.join(ROOT, ".perfbench_work", args.workload)
        self.nproc = len(os.sched_getaffinity(0))
        self.cores = max(1, self.nproc - 1)
        self.mock: subprocess.Popen | None = None
        self.llm_url: str | None = None
        self.inputs: dict = {}
        self.keep: set[int] = set()  # children that outlive a worker (the mock)
        self.deadline = time.monotonic() + RUN_LIMIT_S

    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.work, sub))
        if self.spec["kind"] == "mr":
            path = os.path.join(self.work, "input", "records.jsonl")
            gen.write_ehr_jsonl(path, gen.ehr_records(self.args.seed, self.spec["records"]))
            self.inputs = {"jsonl": path, "records": self.spec["records"]}
        else:
            self.inputs = {"tables": os.path.join(TABLES, self.spec["tables"])}

    def start_mock(self) -> None:
        port_file = os.path.join(self.work, "mock.port")
        with open(os.path.join(self.work, "mock.log"), "w") as log:
            self.mock = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "mock_llm.py"),
                 "--latency-ms", str(self.args.llm_latency_ms), "--port-file", port_file],
                stdout=subprocess.DEVNULL, stderr=log,
            )
        self.keep.add(self.mock.pid)
        deadline = time.monotonic() + 30
        while not os.path.exists(port_file):
            if self.mock.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("mock LLM service did not start")
            time.sleep(0.05)
        with open(port_file) as f:
            self.llm_url = f"http://127.0.0.1:{f.read().strip()}/v1"

    def stop_mock(self) -> None:
        if self.mock is not None and self.mock.poll() is None:
            self.mock.send_signal(signal.SIGTERM)
            try:
                self.mock.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.mock.kill()
                self.mock.wait()

    def worker(self, idx: int, trace: bool, check: bool, seconds: float) -> dict:
        """Run one Spark session in a fresh process and return its result."""
        cfg = {
            "workload": self.args.workload, "trace": trace, "check": check, "seconds": seconds, "cores": self.cores, "llm_url": self.llm_url,
            "work": self.work, "tmp": os.path.join(self.work, "tmp"),
            "spark_local": os.path.join(self.work, "spark-local"),
            "eventlog_dir": os.path.join(self.work, "eventlog"),
            "out_dir": os.path.join(self.work, "output"),
            "result": os.path.join(self.work, f"worker{idx}.json"),
            **self.inputs,
        }
        cfg_path = os.path.join(self.work, f"worker{idx}.config.json")
        env = dict(os.environ, TMPDIR=cfg["tmp"], SPARK_LOCAL_DIRS=cfg["spark_local"])
        with open(os.path.join(self.work, f"worker{idx}.log"), "w") as log:
            cfg["t_spawn"] = time.time()
            with open(cfg_path, "w") as f:
                json.dump(cfg, f)
            proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                                    cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
                reap_orphans(self.keep)
        if code != 0:
            raise RuntimeError(f"worker {idx} exited with {code}; see {log.name}")
        with open(cfg["result"]) as f:
            return json.load(f)

    def stamp(self, first: dict) -> dict:
        return {
            "workload": self.args.workload, "seed": self.args.seed, "seconds": self.args.seconds,
            "traced": bool(self.args.trace), "git_sha": git_sha(), "source_digest": source_digest(),
            "nproc": self.nproc, "master": first["master"],
            "default_parallelism": first["default_parallelism"],
            "spark": first["spark_version"], "python": platform.python_version(), "java": java_version(),
            "inputs": {"records": self.inputs["records"]} if "records" in self.inputs
            else {"tables": self.spec["tables"], "table_rows": table_rows(self.inputs["tables"])},
            "llm_latency_ms": self.args.llm_latency_ms if self.spec["kind"] == "mr" else None,
        }


def reap_orphans(keep: set[int]) -> None:
    """Wait for every child not in ``keep``, including descendants re-parented
    to this process (a Spark JVM or Python daemon outliving its worker);
    ask them to stop first, kill them after 30 s."""
    deadline = time.monotonic() + 30
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        me = os.getpid()
        orphans = [p for p in procfs.tree(me) if p != me and p not in keep]
        if not orphans:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for p in orphans:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def summarize(runs: list[dict]) -> tuple[int, int, list[str]]:
    attempted = failed = 0
    for r in runs:
        for p in r["warmup"] + r["passes"]:
            attempted += p["attempted"]
            failed += p["failed"]
        attempted += r.get("checked_ops", 0)
        failed += len(r.get("problems", []))
    problems = [p for r in runs for p in r.get("problems", [])]
    return attempted, failed, problems


def result_line(attempted: int, failed: int, metrics: dict) -> str:
    """The last line of stdout."""
    return json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # well above the client's ~6 ms per call, so waiting on the service dominates a pass
    ap.add_argument("--llm-latency-ms", type=float, default=50.0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "instructions_mr_spark")):
        print("instructions_mr_spark/ not found next to perfbench/; run from the repository root",
              file=sys.stderr)
        return 2
    spec = load_spec()

    # orphaned descendants (a JVM's Python daemon) re-parent to us, so we can wait for them
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    h = Harness(args)
    h.prepare()
    try:
        if h.spec["kind"] == "mr":
            h.start_mock()
        if args.trace:
            # an untraced session first, so the tracing overhead is measured;
            # each gets half the time so a traced run stays within its limit
            runs = [h.worker(0, trace=False, check=False, seconds=args.seconds / 2),
                    h.worker(1, trace=True, check=True, seconds=args.seconds / 2)]
        else:
            runs = [h.worker(0, trace=False, check=True, seconds=args.seconds)]
    finally:
        h.stop_mock()
        reap_orphans(set())

    attempted, failed, problems = summarize(runs)
    last = runs[-1]
    wall = statistics.median(p["wall_s"] for p in last["passes"])
    if args.trace:
        base = statistics.median(p["wall_s"] for p in runs[0]["passes"])
        values = dict(last["layers"], **{"trace.overhead_frac": wall / base - 1,
                                         "proc.peak_rss_mb": last["peak_rss_mb"]})
        wanted = spec["per_layer"]
    else:
        values = {
            "wall_s": wall,
            "setup_s": last["setup_s"],
            # the mean, not the median: JIT and GC threads bill their CPU
            # time to whichever pass they happen to run in
            "cpu_s": statistics.fmean(p["cpu_s"] for p in last["passes"]),
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    busy = max((p["llm"]["busy_frac"] for r in runs for p in r["passes"] if "llm" in p), default=0.0)
    record = {
        "stamp": h.stamp(runs[0]),
        # above this the mock service, not the program, may be setting the pace
        "llm_service_saturated": busy > MOCK_BUSY_LIMIT,
        "error_rate": failed / attempted if attempted else 1.0,
        "problems": problems,
        "metrics": metrics,
        "runs": runs,
    }
    with open(os.path.join(h.work, f"record-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"{args.workload} error_rate = {record['error_rate']:.6g} ({failed}/{attempted})", file=sys.stderr)
    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    if record["llm_service_saturated"]:
        print(f"WARNING mock LLM service busy {busy:.0%} of a pass: it may be setting the wall time",
              file=sys.stderr)
    print(result_line(attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
