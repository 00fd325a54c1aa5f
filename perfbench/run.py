"""Layered benchmark for spark-hbs.

Usage, from the repository root:

    python3 perfbench/run.py --workload survey --seed 1 --seconds 5 --trace 0

One client process drives the oracle-checked queries of
``__spark_entry__.queries()`` one after another (closed loop) on
``local[<cores>]`` over the parquet inputs vendored in ``perfbench/data``.
The seed only permutes the query order within a pass.

A run: start Spark, then one set-up pass that builds every query of the
workload, collects its output and checks it (DuckDB oracle or rows-only pin);
then warm passes, each query built and forced with the ``noop`` sink, until
``--seconds`` have elapsed (at least one pass). ``--trace 1`` wraps the
package layers in spans (see ``spans.py``) and reports per-layer metrics of
one traced pass instead of the end-to-end ones. The last line of stdout is
the JSON result; the full record (host block, per-query times, spans) is
written under ``.perfbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench-out"
SF = "0.01"
DATA = HERE / "data" / f"sf{SF}"

WORKLOADS = {
    # household-survey analyst: the 39-year era-batched compile (metadata,
    # plans), weighted operators, and a partitioned write and read-back
    # (sources) beside the reads
    "survey": [
        "l15_full_span_food",
        "w2_decile",
        "j3_weighted_average",
        "p13_cpi_deflation",
        "l11_partitioned_write",
    ],
    # corpus curation: the functions layer's eager checkpoint cascade (x38b
    # runs MinHash LSH and connected components inside curate_corpus_fuzzy);
    # no metadata or plans calls at all
    "curation": [
        "x38b_curation_fuzzy_lsh",
        "x41_substring_dedup",
    ],
}

# one-time artifacts built during set-up, before the check pass
WARM_HOOKS = {"l15_full_span_food": "_l15_warm_base"}

UNITS = {
    "calls": "count",
    "jobs": "count",
    "stages": "count",
    "files_written": "count",
    "input_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "bytes_written": "B",
}


def unit_of(metric: str) -> str:
    if metric == "peak_rss_mib":
        return "MiB"
    return UNITS.get(metric.rsplit(".", 1)[-1], "s")


# -- host ---------------------------------------------------------------------
def meminfo_kib() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, val = line.split(":", 1)
            out[key] = int(val.split()[0])
    return out


def configure_host(work: Path) -> dict:
    """Point Spark's scratch space inside ``work`` and size it to the host,
    before pyspark is imported. Returns the host block of the record."""
    cores = len(os.sched_getaffinity(0))
    mem = meminfo_kib()
    heap_gib = max(1, round(0.4 * mem["MemAvailable"] / 2**20))
    heap = f"{heap_gib}g"
    tmp, local = work / "tmp", work / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(local),
        HBSIR_SPARK_DRIVER_MEM=heap,
        # every JVM keeps its scratch files inside the work directory; the
        # session's own heap flags are left as they are
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "cores": cores,
        "mem_total_mib": mem["MemTotal"] // 1024,
        "mem_available_mib": mem["MemAvailable"] // 1024,
        "driver_heap": heap,
        "python": platform.python_version(),
    }


# -- process tree -------------------------------------------------------------
def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    ppids = _ppids()
    found, frontier = [], [pid]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, pp in ppids.items() if pp == parent]
        found += kids
        frontier += kids
    return found


def peak_rss_mib(pids) -> float:
    """Sum of the peak resident set (VmHWM) of each process."""
    total_kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
        except OSError:
            continue
    return total_kib / 1024


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and every process it started, and wait
    until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in tree:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


# -- the run ------------------------------------------------------------------
class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.order = list(WORKLOADS[workload])
        random.Random(seed).shuffle(self.order)
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.data = str(DATA)
        self.tracer = None
        if trace:
            from spans import Tracer

            self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def span(self, layer, name, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.span(layer, name, fn, *args)

    def execute(self, spark, name: str, collect: bool):
        """Build one query and force it; returns the collected frame when
        ``collect``, else runs the noop sink. Counts the attempt."""
        self.attempted += 1
        df = self.span("entry", name, self.queries[name], spark, self.data)
        if collect:
            return self.span("exec", "collect", df.toPandas)
        writer = df.write.format("noop").mode("overwrite")
        return self.span("exec", "noop", writer.save)

    def fail(self, name: str, reason: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {reason}")

    def main(self, host: dict) -> dict:
        sys.path.insert(0, str(ROOT))
        import duckdb
        import pyspark

        import __spark_entry__ as entry
        import hbsir_old_spark.session as session
        from check import Checker

        self.queries = entry.queries()
        if self.tracer is not None:
            self.tracer.install()
            self.tracer.phase = "setup"
        host.update(spark=pyspark.__version__, duckdb=duckdb.__version__,
                    sf=SF, seed=self.seed)

        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        try:
            setup = {"get_spark_s": time.perf_counter() - t0}
            return self._measure(spark, entry, Checker(self.data, entry.oracle_sql()),
                                 host, setup)
        finally:
            stop_spark(spark)

    def _measure(self, spark, entry, checker, host, setup) -> dict:
        t = time.perf_counter()
        for name in self.order:
            if name in WARM_HOOKS:
                getattr(entry, WARM_HOOKS[name])(spark, self.data)
        setup["warm_hooks_s"] = time.perf_counter() - t

        # set-up pass: first build of every query, output collected and checked
        setup["check_pass_s"] = 0.0
        for name in self.order:
            t = time.perf_counter()
            try:
                got = self.execute(spark, name, collect=True)
            except Exception:
                setup["check_pass_s"] += time.perf_counter() - t
                self.fail(name, traceback.format_exc(limit=1).strip().splitlines()[-1])
                continue
            setup["check_pass_s"] += time.perf_counter() - t
            reason = checker.check(name, got)
            if reason is not None:
                self.fail(name, reason)
        checker.close()
        setup_s = sum(setup.values())

        passes = self._passes(spark)
        untraced = [p["wall_s"] for p in passes if not p["traced"]]
        record = {
            "workload": self.workload,
            "order": self.order,
            "host": host,
            "setup": setup,
            "passes": passes,
            "setup_s": setup_s,
            "wall_s": statistics.median(untraced),
            "pass_count": len(untraced),
            "peak_rss_mib": peak_rss_mib([os.getpid(), *descendants(os.getpid())]),
            "attempted": self.attempted,
            "failed": self.failed,
            "error_rate": self.failed / self.attempted,
            "failures": self.failures,
        }
        if self.tracer is not None:
            record["layers"] = self._layer_metrics(passes, record["wall_s"])
        return record

    def _passes(self, spark) -> list[dict]:
        """Warm passes until ``seconds`` elapse. A traced run alternates a
        traced pass (first) with an untraced one and ends on an untraced one."""
        passes = []
        start = time.perf_counter()
        while True:
            traced = self.tracer is not None and len(passes) % 2 == 0
            if self.tracer is not None:
                self.tracer.phase = "pass" if traced else None
                first_span = len(self.tracer.spans)
            per_query = {}
            t_pass = time.perf_counter()
            for name in self.order:
                t = time.perf_counter()
                try:
                    self.execute(spark, name, collect=False)
                except Exception:
                    self.fail(name, traceback.format_exc(limit=1).strip().splitlines()[-1])
                per_query[name] = time.perf_counter() - t
            p = {"traced": traced, "wall_s": time.perf_counter() - t_pass, "queries": per_query}
            if traced:
                spans = self.tracer.spans[first_span:]
                self.tracer.attach_stages(spark.sparkContext, spans)
                p["spans"] = (first_span, len(self.tracer.spans))
            passes.append(p)
            done = time.perf_counter() - start >= self.seconds
            if done and not passes[-1]["traced"]:
                return passes

    def _layer_metrics(self, passes, untraced_wall_s) -> dict[str, float]:
        from spans import layer_metrics, self_times

        spans = self.tracer.spans
        per_pass = [layer_metrics(spans[slice(*p["spans"])]) for p in passes if p["traced"]]
        out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        setup_spans = [s for s in spans if s["phase"] == "setup"]
        selfs = self_times(setup_spans)
        out["session.setup_s"] = sum(
            selfs[s["id"]][0] for s in setup_spans if s["name"] == "get_spark"
        )
        traced_wall = statistics.median(p["wall_s"] for p in passes if p["traced"])
        out["trace.wall_s"] = traced_wall
        out["trace.overhead_s"] = traced_wall - untraced_wall_s
        return out


def result_line(record: dict, trace: bool, bench: dict) -> dict:
    names = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    values = record["layers"] if trace else record
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: {"value": values[n], "unit": unit_of(n)} for n in names},
    }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench-work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    try:
        host = configure_host(work)
        run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
        record = run.main(host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass

    OUT.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if run.tracer is not None:
        (OUT / f"spans-{stem}.json").write_text(json.dumps(run.tracer.spans))
    (OUT / f"record-{stem}.json").write_text(json.dumps(record, indent=1))
    summary = {k: record[k] for k in ("setup_s", "wall_s", "pass_count", "peak_rss_mib",
                                      "error_rate", "failures")}
    summary["units"] = {"setup_s": "s", "wall_s": "s", "peak_rss_mib": "MiB",
                        "error_rate": "ratio"}
    summary["host"] = record["host"]
    print("perfbench record:", json.dumps(summary))
    print(json.dumps(result_line(record, bool(args.trace), bench)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
