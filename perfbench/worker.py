"""One benchmark session in its own process.

Usage: ``python3 worker.py CONFIG.json`` (written by ``run.py``).

The session starts Spark, loads the registry, ships the package and
runs the workload's warm-up passes, the first of them cold; ``setup_s``
is the time from the parent's spawn of this process to the end of the
warm-up.  It then runs warm passes until ``seconds`` have elapsed,
sampling the CPU time of its process tree (driver, JVM, Python
workers) around each pass, and checks the outputs once.  With tracing
on, passes run under one job group per (workload, pass, query, phase),
spans are kept around each layer call, and the event log is reduced to
per-layer numbers after Spark stops.

The result is written as JSON to the path the config names.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import procfs  # noqa: E402
from gen import EHR_DDL  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import KEEP, MAP_STAGE, REDUCE_STAGE, WORKLOADS, check_mr  # noqa: E402

MB = 1024 * 1024


class Session:
    """Spark plus the workload's pass runner, as the config describes."""

    def __init__(self, cfg: dict, tracer: Tracer):
        self.cfg = cfg
        self.wl = cfg["workload"]
        self.spec = WORKLOADS[self.wl]
        self.tracer = tracer
        from instructions_mr_spark import registry
        from instructions_mr_spark.session import get_spark
        from instructions_mr_spark.shipping import ensure_shipped

        extra = {
            "spark.local.dir": cfg["spark_local"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cfg['tmp']} -XX:-UsePerfData",
        }
        if tracer.enabled:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + cfg["eventlog_dir"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.wl}", master=f"local[{cfg['cores']}]",
                                   shuffle_partitions=cfg["cores"], extra_conf=extra)
        with tracer.span("registry.load_all"):
            registry.load_all()
        with tracer.span("shipping.ensure_shipped"):
            ensure_shipped(self.spark)
        self.registry = registry
        if self.spec["kind"] == "mr":
            from instructions_mr_spark.config import Instruction, LlmConfig, PipelineConfig, Stage

            self.pipeline = PipelineConfig(
                llm=LlmConfig(api_type="http", api_url=cfg["llm_url"], model="mock"),
                stages=[Stage([Instruction.from_dict(d) for d in MAP_STAGE], kind="map"),
                        Stage([Instruction.from_dict(d) for d in REDUCE_STAGE], kind="reduce")],
            )

    def _phase(self, tag: str, query: str, phase: str):
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"{self.wl}|{tag}|{query}|{phase}", phase)
        return self.tracer.span(phase, pass_tag=tag, query=query)

    def run_pass(self, tag: str) -> dict:
        """One pass; returns operations attempted/failed and staged checkpoints freed."""
        if self.spec["kind"] == "mr":
            return self._mr_pass(tag)
        return self._staged_pass(tag)

    def _mr_pass(self, tag: str) -> dict:
        from instructions_mr_spark.plans import run_pipeline
        from instructions_mr_spark.sources.io import jsonl_scan, jsonl_sink

        n = self.spec["records"]
        try:
            with self._phase(tag, "pipeline", "construct"):
                with self.tracer.span("sources.io.jsonl_scan", pass_tag=tag):
                    df = jsonl_scan(self.spark, self.cfg["jsonl"], schema=EHR_DDL)
                with self.tracer.span("plans.run_pipeline", pass_tag=tag):
                    out = run_pipeline(df, self.pipeline, keep_cols=[KEEP])
            with self._phase(tag, "pipeline", "execute"):
                jsonl_sink(out, self.cfg["out_dir"])
        except Exception:
            traceback.print_exc()
            return {"attempted": n, "failed": n, "checkpoints": 0}
        return {"attempted": n, "failed": 0, "checkpoints": 0}

    def _staged_pass(self, tag: str) -> dict:
        from instructions_mr_spark.queries._util import free_staged_checkpoints

        failed = freed = 0
        for q in self.spec["queries"]:
            try:
                with self._phase(tag, q, "construct"):
                    df = self.registry.QUERIES[q](self.spark, self.cfg["tables"])
                with self._phase(tag, q, "execute"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()
                failed += 1
            with self.tracer.span("queries._util.free_staged_checkpoints", pass_tag=tag, query=q):
                freed += free_staged_checkpoints()
        return {"attempted": len(self.spec["queries"]), "failed": failed, "checkpoints": freed}

    def check(self) -> list[str]:
        """Output check, outside the timed window; one line per failing operation."""
        if self.spec["kind"] == "mr":
            return check_mr(self.cfg["out_dir"], self.cfg["jsonl"])
        import duckdb

        from instructions_mr_spark.queries._util import free_staged_checkpoints
        from tools.check_oracle import compare

        if self.tracer.enabled:  # keep the check's jobs out of every pass's job groups
            self.spark.sparkContext.setJobGroup(f"{self.wl}|check|-|check", "check")
        # tools.check_oracle.duck_con wants every sf table; only the ones the
        # workload reads are in the benchmark's table directory
        con = duckdb.connect()
        for name in sorted(os.listdir(self.cfg["tables"])):
            path = os.path.join(self.cfg["tables"], name)
            con.execute(f"CREATE VIEW {name.split('.')[0]} AS SELECT * FROM read_parquet('{path}')")
        problems = []
        for q in self.spec["queries"]:
            try:
                got = self.registry.QUERIES[q](self.spark, self.cfg["tables"]).toPandas()
                want = con.sql(self.registry.ORACLES[q]).df()
            except Exception as e:  # a crashing query is a failed operation, not a crashed run
                problems.append(f"{q}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
                continue
            finally:
                free_staged_checkpoints()
            real = [p for p in compare(got, want) if "WARN" not in p]
            if real:
                problems.append(f"{q}: " + "; ".join(real))
        con.close()
        return problems

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _llm_stats(url: str, path: str) -> dict:
    req = urllib.request.Request(url.rsplit("/v1", 1)[0] + path, method="POST" if path == "/mark" else "GET")
    with urllib.request.urlopen(req, timeout=10) as resp:
        return json.loads(resp.read())


def measure_passes(session: Session, cfg: dict) -> list[dict]:
    pids = lambda: procfs.tree(os.getpid())  # noqa: E731 - the tree grows as workers start
    llm = cfg.get("llm_url")
    passes = []
    deadline = time.perf_counter() + cfg["seconds"]
    while True:
        tag = f"p{len(passes)}"
        before = _llm_stats(llm, "/mark") if llm else None
        cpu0 = procfs.cpu_seconds(pids())
        t0, e0 = time.perf_counter(), time.time()
        with session.tracer.span("pass", pass_tag=tag):
            ops = session.run_pass(tag)
        wall = time.perf_counter() - t0
        rec = {"tag": tag, "start": e0, "wall_s": wall, "cpu_s": procfs.cpu_seconds(pids()) - cpu0, **ops}
        if llm:
            rec["llm"] = _llm_delta(before, _llm_stats(llm, "/stats"), e0)
        passes.append(rec)
        if time.perf_counter() >= deadline:
            return passes


LLM_FIELDS = ("calls", "failed", "conns", "req_bytes", "max_inflight", "mean_inflight",
              "first_call_s", "busy_frac")


def _llm_delta(a: dict, b: dict, pass_start: float) -> dict:
    span = b["ts"] - a["ts"]
    calls = b["calls"] - a["calls"]
    return {
        "calls": calls,
        "failed": b["failed"] - a["failed"],
        "conns": b["conns"] - a["conns"],
        "req_bytes": b["req_bytes"] - a["req_bytes"],
        "max_inflight": b["max_inflight"],
        "mean_inflight": (b["inflight_area"] - a["inflight_area"]) / span,
        "first_call_s": (b["first_call_ts"] - pass_start) if b["first_call_ts"] else None,
        "busy_frac": (b["cpu_s"] - a["cpu_s"]) / span,
    }


def layer_metrics(session: Session, passes: list[dict], log_path: str) -> dict:
    """Per-layer numbers of the traced run: setup once, the rest per pass (median)."""
    tr = session.tracer
    groups = eventlog.read(log_path)
    wl = session.wl

    def values(tag: str, phase: str, attr: str) -> list[float]:
        return [getattr(st, attr) for g, st in groups.items()
                if g.startswith(f"{wl}|{tag}|") and g.endswith(f"|{phase}")]

    def gsum(tag: str, phase: str, attr: str) -> float:
        return sum(values(tag, phase, attr))

    def gmax(tag: str, phase: str, attr: str) -> float:
        return max(values(tag, phase, attr), default=0.0)

    queries = session.spec.get("queries", ["pipeline"])
    per_pass = []
    for p in passes:
        tag = p["tag"]
        build_s = tr.total("construct", pass_tag=tag)
        sink_s = tr.total("execute", pass_tag=tag)
        free_s = tr.total("queries._util.free_staged_checkpoints", pass_tag=tag)
        catalyst = 0.0
        for q in queries:
            st = groups.get(f"{wl}|{tag}|{q}|execute")
            starts = [s["start"] for s in tr.spans
                      if s["name"] == "execute" and s.get("pass_tag") == tag and s.get("query") == q]
            if st is not None and st.sql_start is not None and starts:
                catalyst += max(0.0, st.sql_start - starts[0])
        m = {
            "queries.build_s": build_s,
            "queries.build_jobs": gsum(tag, "construct", "jobs"),
            "queries.build_stages": gsum(tag, "construct", "stages"),
            "queries.build_job_s": gsum(tag, "construct", "job_s"),
            "queries.build_driver_s": build_s - gsum(tag, "construct", "job_s"),
            "queries._util.staged_checkpoints": p["checkpoints"],
            "plans.run_pipeline_s": tr.total("plans.run_pipeline", pass_tag=tag),
            "plan.catalyst_s": catalyst,
            "exec.jobs": gsum(tag, "execute", "jobs"),
            "exec.stages": gsum(tag, "execute", "stages"),
            "exec.tasks": gsum(tag, "execute", "tasks"),
            "exec.run_s": gsum(tag, "execute", "run_s"),
            "exec.cpu_s": gsum(tag, "execute", "cpu_s"),
            "exec.gc_s": gsum(tag, "execute", "gc_s"),
            "exec.busy_cores": gsum(tag, "execute", "task_s") / sink_s if sink_s else 0.0,
            "exec.max_stage_skew": gmax(tag, "execute", "max_stage_skew"),
            "exec.peak_exec_mem_mb": gmax(tag, "execute", "peak_exec_mem_bytes") / MB,
            "scan.mb_read": gsum(tag, "execute", "input_bytes") / MB,
            "scan.time_s": gsum(tag, "execute", "scan_ms") / 1000,
            "shuffle.mb_written": gsum(tag, "execute", "shuffle_write_bytes") / MB,
            "shuffle.mb_read": gsum(tag, "execute", "shuffle_read_bytes") / MB,
            "shuffle.fetch_wait_s": gsum(tag, "execute", "fetch_wait_ms") / 1000,
            "spill.mb": gsum(tag, "execute", "spill_bytes") / MB,
            "construct.exec.tasks": gsum(tag, "construct", "tasks"),
            "construct.exec.run_s": gsum(tag, "construct", "run_s"),
            "construct.exec.cpu_s": gsum(tag, "construct", "cpu_s"),
            "construct.scan.mb_read": gsum(tag, "construct", "input_bytes") / MB,
            "construct.shuffle.mb_written": gsum(tag, "construct", "shuffle_write_bytes") / MB,
            "construct.spill.mb": gsum(tag, "construct", "spill_bytes") / MB,
            "python.run_s": gsum(tag, "execute", "py_run_ms") / 1000,
            "python.sent_mb": gsum(tag, "execute", "py_sent_bytes") / MB,
            "python.returned_mb": gsum(tag, "execute", "py_returned_bytes") / MB,
            "llm_map.tasks": gsum(tag, "execute", "py_tasks"),
            "llm_map.rows": gsum(tag, "execute", "py_input_records"),
            "sink.s": sink_s,
            "sink.mb_written": gsum(tag, "execute", "output_bytes") / MB,
            "trace.phase_coverage": (build_s + sink_s + free_s) / p["wall_s"],
        }
        llm = p.get("llm") or dict.fromkeys(LLM_FIELDS, 0)
        n = session.spec.get("records", 1)
        m.update({
            "llm.calls": llm["calls"],
            "llm.calls_failed": llm["failed"],
            "llm.max_inflight": llm["max_inflight"],
            "llm.mean_inflight": llm["mean_inflight"],
            "llm.conns_per_call": llm["conns"] / llm["calls"] if llm["calls"] else 0.0,
            "llm.first_call_s": llm["first_call_s"] or 0.0,
            "llm.calls_per_record": llm["calls"] / n,
            "llm.prompt_kb_per_record": llm["req_bytes"] / 1024 / n,
            "llm_service.busy_frac": llm["busy_frac"],
        })
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out.update({
        "session.get_spark_s": tr.total("session.get_spark"),
        "registry.load_all_s": tr.total("registry.load_all"),
        "shipping.ensure_shipped_s": tr.total("shipping.ensure_shipped"),
        "warmup.pass_s": tr.total("pass", pass_tag="warmup"),
        "python.worker_start_s": sum(gsum("warmup", ph, a) for ph in ("construct", "execute")
                                     for a in ("py_start_ms", "py_init_ms")) / 1000,
    })
    return out


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    tracer = Tracer(cfg["trace"])
    session = Session(cfg, tracer)
    warm = []
    for i in range(session.spec["warmup_passes"]):
        tag = f"warmup{i or ''}"  # "warmup" is the cold pass
        with tracer.span("pass", pass_tag=tag):
            warm.append(session.run_pass(tag))
    result = {"setup_s": time.time() - cfg["t_spawn"], "warmup": warm,
              "master": session.spark.sparkContext.master,
              "default_parallelism": session.spark.sparkContext.defaultParallelism,
              "spark_version": session.spark.version}
    steal0, t0 = procfs.steal_seconds(), time.perf_counter()
    result["passes"] = measure_passes(session, cfg)
    result["steal_frac"] = (procfs.steal_seconds() - steal0) / (time.perf_counter() - t0) / os.cpu_count()
    result["peak_rss_mb"] = procfs.hwm_mb(procfs.tree(os.getpid()))
    if cfg["check"]:
        result["problems"] = session.check()
        result["checked_ops"] = len(session.spec.get("queries", [])) or session.spec["records"]
    app_id = session.spark.sparkContext.applicationId
    session.stop()
    if tracer.enabled:
        result["layers"] = layer_metrics(session, result["passes"], os.path.join(cfg["eventlog_dir"], app_id))
        tracer.write(os.path.join(cfg["work"], "spans.json"))
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
