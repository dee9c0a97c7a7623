"""Closed-loop benchmark of the engine's registered queries.

    python3 loadbench/run.py --workload census_moe --seed 1 --seconds 5 --trace 0

Run from the repository root. One run is one fresh process:

1. generate the input snapshot from ``--seed`` (``datagen``) into a
   run-unique work dir under ``.loadbench_work/``;
2. set up the engine as a primed deployment does, timing each public
   call: ``session.get_session``, ``registry.load_all``,
   ``tables.relayout`` and, for ``curation_primed``, ``ingest.ingest``;
3. run every query of the workload once, cold, collecting its rows
   (the timed first pass), and compare them with each query's DuckDB
   oracle (``registry.ORACLES``, hashed with
   ``tools/verify_local.frame_key``);
4. time a one-client closed loop of whole passes, each query written
   to the noop sink, until ``--seconds`` have passed and at least
   ``MIN_PASSES`` passes are done.

Every pass runs the workload's queries in a seed-shuffled order.

With ``--trace 1`` Spark's event log is on and the run reports the
per-layer metrics instead of the end-to-end ones; executor work is
attributed to query windows by ``eventlog.attribute``.

Every artifact the run writes (snapshot, relayout copies, ingest
sidecars, Spark local dirs, temp files, event log) lives in its work
dir, which is removed at exit. The engine's streaming queries keep
their throwaway checkpoints and file-sink output in ``/dev/shm``; the
run removes the ones that appeared while it ran.

The second-to-last stdout line is the run record (seed, passes,
samples, per-pass CPU steal, session settings, failures by name); the
last line is the result.
"""

from __future__ import annotations

import argparse
import functools
import importlib.util
import json
import os
import secrets
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SHM = "/dev/shm"
#: name prefixes of the tmpfs dirs the streaming queries create
STREAM_TMP_PREFIXES = ("prs_ckpt_", "pr_spark_stream_sink_", "pr_spark_stream_ckpt_")
#: scale factor of the generated snapshot (sf0.01: 60,000 lineitem rows)
SF = 0.01
#: a run stops starting passes once it is this far into its process
#: lifetime, so that it ends inside the 180 s a run may take
DEADLINE_S = 150.0

#: curation_primed runs one consumer of every ingest sidecar (the
#: cheapest to verify where a sidecar has several: q_dedup_minhash and
#: q_dedup_minhash_capped each take 8-11 s of DuckDB oracle time) ...
SIDECAR_CONSUMERS = {
    "doc_tokens": "q_text_tfidf",
    "token_index": "q_text_bm25",
    "bpe_merges": "q_text_bpe_apply",
    "docq": "q_pipeline_curriculum",
    "lsh_signatures": "q_similarity_ann_lsh",
    "ivf_index": "q_similarity_ivf",
    "pq_index": "q_similarity_pq_adc",
    "srp_codes": "q_similarity_srp",
    "knn_graph": "q_similarity_knn_graph",
    "minhash": "q_dedup_minhash_incremental",
    "graph": "q_graph_triangles",
    "wm_stats": "q_agg_weighted_median_approx",
    "vocab_stats": "q_text_perplexity_bigram",
}
#: ... and two streaming queries: Python state, and a checkpointed
#: file sink
STREAM_QUERIES = ("q_events_stateful", "q_stream_file_sink")

#: the module that registers a query names its layer
LAYERS = (
    "census_queries",
    "sources",
    "relational",
    "text",
    "dedup",
    "similarity",
    "graph",
    "events",
)
LAYER_METRICS = {
    "build_s": "s",
    "plan_gap_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "input_mb": "MB",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "aqe_updates": "count",
}
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "throughput_qps": "queries/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "success_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = {
        "snapshot.prep_s": "s",
        "session.build_s": "s",
        "registry.load_s": "s",
        "tables.relayout_s": "s",
        "ingest.total_s": "s",
        "ingest.primed_ratio": "ratio",
    }
    units.update({f"ingest.{s}_s": "s" for s in SIDECAR_CONSUMERS})
    for layer in LAYERS:
        units.update({f"{layer}.{m}": u for m, u in LAYER_METRICS.items()})
    units.update({
        "jvm.peak_rss_mb": "MB",
        "host.steal_ratio": "ratio",
        "trace.throughput_qps": "queries/s",
    })
    return units


def layer_of(fn) -> str:
    mod = fn.__module__
    return "sources" if mod.endswith(".sources.queries") else mod.rsplit(".", 1)[-1]


def workload_queries(workload: str) -> list[str]:
    """The registered queries one pass of `workload` runs."""
    from pandas_reporter_spark import registry

    if workload == "census_moe":
        return [
            n for n, fn in registry.QUERIES.items()
            if layer_of(fn) in ("census_queries", "sources")
        ]
    names = [*SIDECAR_CONSUMERS.values(), *STREAM_QUERIES]
    missing = [n for n in names if n not in registry.QUERIES]
    if missing:
        raise RuntimeError(f"curation_primed names unregistered queries: {missing}")
    return names


#: workload -> timed passes a run makes however short `--seconds` is.
#: A fixed count keeps the JIT warm-up inside the timed loop the same
#: from run to run; the counts trade latency samples (54 and 30)
#: against run time (census ~50 s a run, curation ~80 s, on 4 cores).
MIN_PASSES = {"census_moe": 3, "curation_primed": 2}
WORKLOADS = tuple(MIN_PASSES)


def _mem_total_gb() -> int:
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return kb // (1024 * 1024)


def session_settings(work: str, trace: bool) -> dict:
    """Host-sized session settings, applied through the environment the
    engine reads (``session.py`` defaults to a 48g driver)."""
    settings = {
        "driver_memory": f"{max(2, min(8, _mem_total_gb() // 4))}g",
        "task_slots": len(os.sched_getaffinity(0)),
        "local_dirs": os.path.join(work, "local"),
        "tmp_dir": os.path.join(work, "tmp"),
        "event_log": os.path.join(work, "eventlog") if trace else None,
    }
    confs = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={settings['tmp_dir']} -XX:-UsePerfData"
            f" -Xms{settings['driver_memory']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + settings["event_log"],
        })
    settings["confs"] = confs
    return settings


def apply_settings(settings: dict) -> None:
    import tempfile

    for d in (settings["local_dirs"], settings["tmp_dir"], settings["event_log"]):
        if d:
            os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": settings["driver_memory"],
        "SPARK_GRAFT_CPUS": str(settings["task_slots"]),
        "SPARK_LOCAL_DIRS": settings["local_dirs"],
        "TMPDIR": settings["tmp_dir"],
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in settings["confs"].items()
        ) + " pyspark-shell",
    })
    tempfile.tempdir = settings["tmp_dir"]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_ratio(a: tuple[int, int], b: tuple[int, int]) -> float:
    total = b[1] - a[1]
    return (b[0] - a[0]) / total if total > 0 else 0.0


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _load_frame_key():
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_key


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for each process to exit; kill those still there after
    `timeout` seconds and wait for them too."""

    def alive(pid):
        return os.path.exists(f"/proc/{pid}")

    deadline = time.time() + timeout
    while any(map(alive, pids)) and time.time() < deadline:
        time.sleep(0.05)
    for pid in filter(alive, pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(map(alive, pids)):
        time.sleep(0.05)


class Run:
    """One benchmark run: its work dir, session and measurements."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = np.random.default_rng(seed)
        self.name = f"lb_{workload}_{seed}_{os.getpid()}_{secrets.token_hex(3)}"
        self.work_root = os.path.join(ROOT, ".loadbench_work")
        self.work = os.path.join(self.work_root, self.name)
        self.snapshot = os.path.join(self.work, f"snap_{self.name}")
        self.settings = session_settings(self.work, trace)
        self.shm_before = set(os.listdir(SHM)) if os.path.isdir(SHM) else set()
        self.spark = None
        self.layers: dict[str, float] = {}
        self.ingest_report: dict = {}
        self.failures: dict[str, str] = {}
        self.checked: dict[str, str] = {}
        self.cold_s: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.record: dict = {}

    # ---- set-up -------------------------------------------------------
    def _timed(self, layer, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.layers[layer] = time.perf_counter() - t0
        return out

    def setup(self) -> float:
        """Generate the snapshot, then set up the engine; returns the
        engine set-up time (session, registry, relayout, ingest)."""
        sys.path.insert(0, ROOT)
        from loadbench import datagen

        os.makedirs(self.work, exist_ok=True)
        apply_settings(self.settings)
        self.rows = self._timed(
            "snapshot.prep_s", datagen.generate, self.snapshot, self.seed, SF
        )
        t0 = time.perf_counter()
        from pandas_reporter_spark import session

        self.spark = session.get_session(f"loadbench_{self.workload}")
        self.layers["session.build_s"] = time.perf_counter() - t0
        from pandas_reporter_spark import ingest, registry, tables

        self._timed("registry.load_s", registry.load_all)
        self.queries = workload_queries(self.workload)
        layout = os.path.join(self.work, "layout")
        os.makedirs(layout)
        self._timed(
            "tables.relayout_s", tables.relayout, self.spark, self.snapshot, base=layout
        )
        if self.workload == "curation_primed":
            self._redirect_sidecars()
            self.ingest_report = self._timed(
                "ingest.total_s", ingest.ingest, self.spark, self.snapshot
            )
        return time.perf_counter() - t0

    def _redirect_sidecars(self) -> None:
        """Point every sidecar materializer's ``base`` dir at the work
        dir; consumers that self-derive call the same module globals."""
        from pandas_reporter_spark.operators import (
            dedup, graph, relational, similarity, text,
        )

        base = os.path.join(self.work, "sidecars")
        os.makedirs(base, exist_ok=True)
        for mod in (dedup, graph, relational, similarity, text):
            for attr in dir(mod):
                if attr.startswith("materialize_"):
                    setattr(mod, attr, functools.partial(getattr(mod, attr), base=base))

    # ---- queries ------------------------------------------------------
    def _pass(self, sink):
        """Run every query once, in a seed-shuffled order. `sink(df)`
        consumes each frame; returns [(name, start, built, done, out)]
        in epoch seconds, with `out` the sink's return value or, for a
        query that raised, the exception (start, built, done are then
        None, and the failure is counted)."""
        from pandas_reporter_spark import registry

        out = []
        for name in self.rng.permutation(self.queries):
            t0 = time.time()
            try:
                df = registry.QUERIES[name](self.spark, self.snapshot)
                t1 = time.time()
                res = sink(df)
                out.append((name, t0, t1, time.time(), res))
            except Exception as e:  # a raising query is a counted failure
                out.append((name, None, None, None, e))
                self._fail(name, f"raised: {e!r}")
        return out

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(name, why[:300])

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    @staticmethod
    def _collect(df) -> tuple[list[str], list[tuple]]:
        return df.columns, [tuple(r) for r in df.collect()]

    def check(self, results) -> None:
        """Compare first-pass rows with each query's DuckDB oracle at
        the same snapshot; a mismatch is a counted failure."""
        import duckdb

        from loadbench import datagen
        from pandas_reporter_spark import registry

        frame_key = _load_frame_key()
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                path = os.path.join(self.snapshot, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name, t0, _, t2, out in results:
                if t0 is None:
                    continue  # raised: already counted
                cols, rows = out
                oracle = registry.ORACLES.get(name)
                if oracle is None:
                    self.checked[name] = f"rows-only ({len(rows)} rows)"
                    continue
                res = con.execute(oracle)
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                if len(rows) != len(orows):
                    self._fail(name, f"rowcount {len(rows)} vs oracle {len(orows)}")
                elif sorted(cols) != sorted(ocols):
                    self._fail(name, f"columns {sorted(cols)} vs oracle {sorted(ocols)}")
                elif frame_key(cols, rows) != frame_key(ocols, orows):
                    self._fail(name, "value-hash mismatch")
                else:
                    self.checked[name] = "pass"
        finally:
            con.close()

    def first_pass_and_check(self) -> float:
        """One cold pass collecting every query's rows, then the oracle
        check of those rows. Returns the cold pass's Spark-side time."""
        results = self._pass(self._collect)
        self.attempted += len(results)
        self.cold_s = {r[0]: r[3] - r[1] for r in results if r[1] is not None}
        self.check(results)
        return sum(self.cold_s.values())

    # ---- timed loop ---------------------------------------------------
    def loop(self) -> tuple[list[tuple], float, int, list[float]]:
        """Whole passes until `seconds` have passed and the workload's
        MIN_PASSES are done. Returns (executions, wall seconds, passes,
        CPU steal per pass); an execution is (name, start, built, done,
        _) as `_pass` gives it."""
        execs, steal, passes = [], [], 0
        t_start = time.perf_counter()
        while True:
            ticks = cpu_ticks()
            p0 = time.perf_counter()
            execs += self._pass(self._noop)
            passes += 1
            steal.append(steal_ratio(ticks, cpu_ticks()))
            now = time.perf_counter()
            if passes >= MIN_PASSES[self.workload] and now - t_start >= self.seconds:
                break
            if process_age_s() + (now - p0) > DEADLINE_S:
                print("loadbench: stopping early to end in time", file=sys.stderr)
                break
        self.attempted += len(execs)
        return execs, time.perf_counter() - t_start, passes, steal

    # ---- metrics ------------------------------------------------------
    def layer_metrics(self, execs, passes) -> dict[str, float]:
        """Per-layer query metrics of a traced run, per pass. Spark must
        be stopped first, so that the event log is complete."""
        from loadbench import eventlog
        from pandas_reporter_spark import registry

        ok = [e for e in execs if e[1] is not None]
        windows = [(int(e[1] * 1000), int(e[3] * 1000) + 1) for e in ok]
        profiles = eventlog.attribute(
            eventlog.read_events(self.settings["event_log"]), windows
        )
        out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in LAYER_METRICS}
        for (name, t0, t1, t2, _), prof in zip(ok, profiles):
            first_job = prof.first_job_ms / 1000 if prof.first_job_ms else t2
            vals = {
                "build_s": t1 - t0,
                "plan_gap_s": max(0.0, first_job - t0),
                "exec_s": t2 - t1,
            }
            vals.update({m: getattr(prof, m) for m in LAYER_METRICS if m not in vals})
            layer = layer_of(registry.QUERIES[name])
            for m, v in vals.items():
                out[f"{layer}.{m}"] += v / passes
        return out

    def setup_metrics(self) -> dict[str, float]:
        out = {
            k: self.layers.get(k, 0.0)
            for k in ("snapshot.prep_s", "session.build_s", "registry.load_s",
                      "tables.relayout_s", "ingest.total_s")
        }
        rep = self.ingest_report
        out.update({
            f"ingest.{s}_s": float(rep[s]["seconds"]) if s in rep else 0.0
            for s in SIDECAR_CONSUMERS
        })
        out["ingest.primed_ratio"] = (
            sum(1 for r in rep.values() if r["primed"]) / len(rep) if rep else 0.0
        )
        return out

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM for JVM pid {pid}")

    def execute(self) -> dict:
        phases = {"start": process_age_s()}
        setup_s = self.setup()
        phases["ready"] = process_age_s()
        first_pass_s = self.first_pass_and_check()
        phases["checked"] = process_age_s()
        execs, wall, passes, steal = self.loop()
        phases["looped"] = process_age_s()
        lat = [e[3] - e[1] for e in execs if e[1] is not None]
        by_query: dict[str, list[float]] = {}
        for e in execs:
            if e[1] is not None:
                by_query.setdefault(e[0], []).append(e[3] - e[1])
        throughput = len(lat) / wall
        self.record = {
            "workload": self.workload,
            "seed": self.seed,
            "sf": SF,
            "queries": len(self.queries),
            "passes": passes,
            "samples": len(lat),
            "loop_s": wall,
            "phases": phases,
            "steal_ratio_per_pass": steal,
            "settings": self.settings,
            "fail_ratio": self.failed / self.attempted,
            "failures": self.failures,
            "check": self.checked,
            "cold_s": self.cold_s,
            "query_median_s": {n: statistics.median(v) for n, v in by_query.items()},
            "rows": self.rows,
            "layers": self.layers,
            "ingest": self.ingest_report,
        }
        if not self.trace:
            metrics = {
                "setup_s": setup_s,
                "first_pass_s": first_pass_s,
                "throughput_qps": throughput,
                "query_p50_s": statistics.median(lat),
                "query_p90_s": float(np.percentile(lat, 90)),
                "success_ratio": 1.0 - self.failed / self.attempted,
            }
            units = END_TO_END
        else:
            metrics = self.setup_metrics()
            metrics["jvm.peak_rss_mb"] = self.jvm_peak_rss_mb()
            metrics["host.steal_ratio"] = statistics.fmean(steal)
            metrics["trace.throughput_qps"] = throughput
            self.stop_spark()  # flushes the event log
            metrics.update(self.layer_metrics(execs, passes))
            units = per_layer_units()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    # ---- tear-down ----------------------------------------------------
    def stop_spark(self) -> None:
        """Stop the session, its JVM and the JVM's Python workers, and
        wait until each has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        procs = [proc.pid] + _descendants(proc.pid) if proc else []
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _wait_gone(procs, timeout=30)

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(self.work_root)
            except OSError:
                pass  # another run's work dir is still there
            if os.path.isdir(SHM):
                for entry in set(os.listdir(SHM)) - self.shm_before:
                    if self.name in entry or entry.startswith(STREAM_TMP_PREFIXES):
                        shutil.rmtree(os.path.join(SHM, entry), ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for needed in ("pandas_reporter_spark/registry.py", "tools/verify_local.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"loadbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2
    # run the clean-up below when the caller terminates the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = run.execute()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
    print(json.dumps({"record": run.record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
