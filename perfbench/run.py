"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--cpus N]

Run from the root of a checkout. One client drives the program's own
session (``session.get_spark`` at ``local[cpus]``, cpus = this host's usable
cores unless ``--cpus`` says otherwise) in a closed loop: each catalog entry
or direct operator call starts when the previous one has finished, and its
result goes to the ``noop`` sink. The seed fixes the order of entries in
each pass; the tables are the fixed copies under ``perfbench/data``.

A run starts the session and warms it with ``WARMUP_PASSES`` untimed passes,
then runs whole timed passes until ``--seconds`` seconds have passed and at
least ``MIN_PASSES`` have run, then checks each entry's output against its
DuckDB oracle. With ``--trace 0`` the last
line of stdout carries the end-to-end metrics; with ``--trace 1`` Spark's
event log is on and the line carries the per-layer metrics. Each run writes
its record to ``perfbench/out/``, and a traced run also a span file.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
import uuid
from dataclasses import dataclass
from pathlib import Path

_T0 = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import workloads as W  # noqa: E402

DRIVER_MEMORY = "4g"
# The first pass pays first-use costs (imports, class loading, code
# generation, Python workers, the first streaming query). The pass after it
# still ran 10-30% slower than later ones, so it is untimed too.
WARMUP_PASSES = 2
# pass_s is the median over passes, so that one pass slowed by a burst of
# load on the host does not move it.
MIN_PASSES = 3


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile with at least ten
    samples above it, or None when there are fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


@dataclass
class Execution:
    """One execution of a catalog entry or a direct operator call."""

    span: str
    name: str
    pass_no: int
    start: float  # epoch seconds
    build_end: float
    end: float
    operator: bool = False  # a direct operator call, not a catalog entry
    df: object = None
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, cpus: int, work: Path):
        self.workload = workload
        self.entries = W.WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.work = work
        self.data_dir = str(ROOT / W.data_dir(workload))
        self.spark = None
        self.rng = random.Random(seed)
        self.warmup: list[Execution] = []
        self.spans: list[dict] = []
        self.setup: dict[str, float] = {}
        self.passes: list[dict] = []
        self.execs: list[Execution] = []
        self.failures: list[dict] = []
        self.peak_rss_mb = None
        self.check_s = None
        self.env: dict = {}

    # -- spans ---------------------------------------------------------
    def _span(self, name: str, parent: str | None, start: float, end: float, sid: str | None = None, **attrs) -> str:
        sid = sid or f"s{len(self.spans)}"
        self.spans.append({"id": sid, "parent": parent, "name": name, "start": start, "end": end, **attrs})
        return sid

    # -- session -------------------------------------------------------
    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def _stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _order(self) -> list[str]:
        order = list(self.entries)
        self.rng.shuffle(order)
        return order

    def set_up(self) -> None:
        """Start the session and warm it with ``WARMUP_PASSES`` untimed
        passes."""
        from zio_analytics_spark.session import get_spark

        (self.work / "eventlog").mkdir(parents=True, exist_ok=True)
        t_session = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self._conf())
        t_warm = time.perf_counter()
        self.warmup = [self._item(n, f"warmup{i}", "setup") for i in range(WARMUP_PASSES) for n in self._order()]
        for ex in self.warmup:
            ex.df = None
        t_end = time.perf_counter()
        self.setup = {"setup_s": t_end - _T0, "start_s": t_warm - t_session, "warmup_s": t_end - t_warm}
        self._span("setup", "run", time.time() - (t_end - _T0), time.time(), sid="setup", **self.setup)

    # -- timed passes --------------------------------------------------
    def _item(self, name: str, pass_no, parent: str) -> Execution:
        from zio_analytics_spark import catalog

        spark, sc = self.spark, self.spark.sparkContext
        span = f"p{pass_no}.{name}"
        spark.catalog.clearCache()
        sc.setLocalProperty("perfbench.span", span)
        operator = name in W.OPERATOR_CALLS
        fn = OPERATORS[name] if operator else catalog.CATALOG[name].fn
        ex = Execution(span, name, pass_no, time.time(), 0.0, 0.0, operator)
        try:
            df = fn(spark, self.data_dir)
            ex.build_end = time.time()
            df.write.format("noop").mode("overwrite").save()
            ex.df = df
        except Exception as e:  # an entry that raises is a counted failure
            ex.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:500]
            traceback.print_exc(file=sys.stderr)
        ex.end = time.time()
        if not ex.build_end:
            ex.build_end = ex.end
        sc.setLocalProperty("perfbench.span", None)
        sid = self._span(name, parent, ex.start, ex.end, entry=name, span_key=span)
        self._span("build", sid, ex.start, ex.build_end)
        self._span("action", sid, ex.build_end, ex.end)
        return ex

    def run_passes(self) -> None:
        t_begin = time.perf_counter()
        while True:
            order = self._order()
            p = len(self.passes)
            start = time.time()
            pid = f"pass{p}"
            execs = [self._item(n, p, pid) for n in order]
            end = time.time()
            self._span(pid, "run", start, end, sid=pid, order=order)
            self.passes.append({"pass": p, "wall_s": end - start, "order": order})
            self.execs.extend(execs)
            self.failures.extend({"span": e.span, "entry": e.name, "reason": e.error} for e in execs if e.error)
            if len(self.passes) >= MIN_PASSES and time.perf_counter() - t_begin >= self.seconds:
                break
        self.peak_rss_mb = _vm_hwm_mb(self.spark)

    # -- output check --------------------------------------------------
    def check(self) -> None:
        """Compare each entry's output with its oracle: the output of its
        last timed execution, read back (which runs its plan again). Every
        execution of an entry runs the same code over the same tables, and
        reading back each of them would double the run. The outputs are read
        back concurrently; a failed comparison fails the execution."""
        from concurrent.futures import ThreadPoolExecutor

        import oracle

        from zio_analytics_spark import catalog
        from zio_analytics_spark.sources.parquet import TABLES

        t_start = time.time()
        todo = list({ex.name: ex for ex in self.execs if not ex.error}.values())
        con = oracle.connect(self.data_dir, TABLES, self.cpus)
        data_key = oracle.data_key(self.data_dir, TABLES)
        loaded: dict[str, str] = {}
        try:
            with ThreadPoolExecutor(self.cpus) as pool:
                results = [pool.submit(ex.df.toArrow) for ex in todo]
                for ex, result in zip(todo, results):
                    if ex.name not in loaded:
                        loaded[ex.name] = f"oracle_{len(loaded)}"
                        sql = catalog.CATALOG[W.OPERATOR_CALLS.get(ex.name, ex.name)].oracle
                        oracle.load_oracle(con, loaded[ex.name], sql, str(HERE / "out" / "oracle"), data_key)
                    try:
                        reason = oracle.compare(con, result.result(), loaded[ex.name])
                    except Exception as e:  # an output that cannot be read back fails its check
                        reason = f"check raised {type(e).__name__}: {str(e).splitlines()[0]}"[:500]
                    if reason:
                        ex.error = reason
                        self.failures.append({"span": ex.span, "entry": ex.name, "reason": reason})
                        print(f"perfbench: {ex.name} failed its oracle check: {reason}", file=sys.stderr)
        finally:
            con.close()
        self._span("check", "run", t_start, time.time())
        self.check_s = time.time() - t_start

    # -- environment ---------------------------------------------------
    def describe(self) -> None:
        import pyspark

        sc = self.spark.sparkContext
        self.env = {
            "cpus": self.cpus,
            "default_parallelism": sc.defaultParallelism,
            "sf": W.SF[self.workload],
            "data_dir": W.data_dir(self.workload),
            "spark_version": self.spark.version,
            "pyspark_version": pyspark.__version__,
            "python_version": sys.version.split()[0],
            "seed": self.seed,
            "workload": self.workload,
            "trace": int(self.trace),
            "seconds": self.seconds,
            # paths relative to the checkout, so records compare across hosts
            "conf": {k: v.replace(str(ROOT), ".") for k, v in sorted(sc.getConf().getAll())},
        }

    def event_log(self) -> str:
        return str(self.work / "eventlog" / self.spark.sparkContext.applicationId)

    def close(self) -> None:
        """Stop the session and the JVM behind it, and wait for it to exit."""
        from pyspark import SparkContext

        self._stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()


def _wordpiece_model(spark, data_dir: str):
    """The WordPiece trainer with the catalog's parameters; its merge rows
    are the output that ``wordpiece_train``'s oracle checks."""
    from zio_analytics_spark.operators.wordpiece import wordpiece_model, wordpiece_results_df
    from zio_analytics_spark.sources.parquet import read_table

    results, _ = wordpiece_model(read_table(spark, data_dir, "documents"), n_merges=4)
    return wordpiece_results_df(spark, results)


OPERATORS = {"wordpiece_model": _wordpiece_model}


def _vm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def end_to_end(b: Bench) -> dict[str, float]:
    walls = [ex.wall for ex in b.execs if not ex.error]
    return {
        "setup_s": b.setup["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in b.passes),
        "entry_p50_s": statistics.median(walls) if walls else float("nan"),
    }


def per_layer(b: Bench, traces: dict) -> tuple[dict[str, float], list[dict]]:
    """Per-workload per-layer metrics (per-pass totals, median over passes)
    and the per-entry records they are summed from."""
    entries = []
    per_pass: dict[int, dict[str, float]] = {}
    triggers: list[dict] = []
    for ex in b.execs:
        tr = traces[ex.span]
        layers = dict(tr.layers)
        entries.append(
            {"span": ex.span, "entry": ex.name, "pass": ex.pass_no, "wall_s": ex.wall, "layers": layers, "jobs": tr.jobs}
        )
        acc = per_pass.setdefault(ex.pass_no, {})
        for k, v in layers.items():
            acc[k] = acc.get(k, 0.0) + v
        triggers.extend(tr.triggers)
    keys = sorted({k for acc in per_pass.values() for k in acc})
    out = {k: statistics.median(acc.get(k, 0.0) for acc in per_pass.values()) for k in keys}
    out["exec.core_util"] = out["exec.run_s"] / (out["driver.job_s"] * b.cpus) if out["driver.job_s"] else 0.0
    out["session.start_s"] = b.setup["start_s"]
    out["session.warmup_s"] = b.setup["warmup_s"]
    if triggers:
        ms = [t["batch_ms"] for t in triggers]
        out["streaming.trigger_p50_ms"] = statistics.median(ms)
        t = tail(ms)
        out["streaming.trigger_tail_ms"] = t[0] if t else None
        out["streaming.trigger_tail"] = {"percentile": t[1], "n": t[2]} if t else {"percentile": None, "n": len(ms)}
        out["streaming.rows_per_s"] = sum(x["rows"] for x in triggers) / (sum(ms) / 1000.0) if sum(ms) else 0.0
    return out, entries


def _job_spans(b: Bench, entries: list[dict]) -> None:
    """Job and stage spans under the build or action span they ran in."""
    by_key = {s.get("span_key"): s for s in b.spans if s.get("span_key")}
    children: dict[str, list[dict]] = {}
    for s in b.spans:
        children.setdefault(s["parent"], []).append(s)
    for e in entries:
        entry = by_key[e["span"]]
        build, action = children[entry["id"]]
        for job in e["jobs"]:
            parent = build if job["start_ms"] / 1000.0 < build["end"] else action
            jid = b._span(f"job{job['job']}", parent["id"], job["start_ms"] / 1000.0, job["end_ms"] / 1000.0)
            for st in job["stages"]:
                b._span(f"stage{st['stage']}", jid, st["start_ms"] / 1000.0, st["end_ms"] / 1000.0, tasks=st["tasks"])


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--cpus", type=int, default=None, help="local[cpus]; default: this host's usable cores")
    return p.parse_args(argv)


def _environment(work: Path, cpus: int) -> None:
    """Everything the run writes stays under ``work``; Python workers find
    the package through PYTHONPATH, whatever the current directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM spark-submit starts, the launcher too: no perf data or temp
    # files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def _sweep_work(parent: Path) -> None:
    """Remove work directories left by runs that were killed."""
    for d in parent.glob("p*-*"):
        pid = int(d.name[1:].split("-")[0])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def _write(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, default=float)


def _trace_overhead(out_dir: Path, name: str, traced_pass_s: float, cpus: int) -> dict | None:
    """Traced pass_s over the latest untraced pass_s of the same workload,
    cpus and SF in ``out_dir``."""
    best = None
    for path in out_dir.glob(f"{name}-c{cpus}-t0-s*.json"):
        with open(path, encoding="utf-8") as f:
            rec = json.load(f)
        if rec["env"]["sf"] == W.SF[name] and (best is None or path.stat().st_mtime > best[0]):
            best = (path.stat().st_mtime, path.name, rec["end_to_end"]["pass_s"])
    if best is None:
        return None
    return {"traced_pass_s": traced_pass_s, "untraced_pass_s": best[2], "ratio": traced_pass_s / best[2], "untraced_record": best[1]}


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    data = W.data_dir(args.workload)
    if not (ROOT / "zio_analytics_spark").is_dir() or not (ROOT / data).is_dir():
        print(f"perfbench: {ROOT} holds no zio_analytics_spark package or no {data}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    cpus = args.cpus or len(os.sched_getaffinity(0))
    out_dir = HERE / "out"
    _sweep_work(out_dir / "work")
    work = out_dir / "work" / f"p{os.getpid()}-{uuid.uuid4().hex[:6]}"
    _environment(work, cpus)
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), cpus, work)
    traces = None
    try:
        b.set_up()
        b.describe()
        b.run_passes()
        b.check()
        if b.trace:
            log = b.event_log()
            b._stop_session()  # flushes the event log
            import eventlog

            traces = eventlog.read(
                log, [eventlog.EntrySpan(e.span, e.start, e.build_end, e.end, e.operator) for e in b.execs]
            )
    finally:
        b.close()
        shutil.rmtree(work, ignore_errors=True)
    run_end = time.time()
    b.spans.insert(0, {"id": "run", "parent": None, "name": "run", "start": run_end - (time.perf_counter() - _T0), "end": run_end})

    attempted, failed = len(b.execs), sum(1 for e in b.execs if e.error)
    walls = [e.wall for e in b.execs if not e.error]
    t = tail(walls)
    record = {
        "env": b.env,
        "setup": b.setup,
        "passes": b.passes,
        "walls": [
            {"entry": e.name, "pass": e.pass_no, "wall_s": e.wall, "build_s": e.build_end - e.start, "error": e.error}
            for e in b.warmup + b.execs
        ],
        "check_s": b.check_s,
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted,
        "failures": b.failures,
        "end_to_end": end_to_end(b),
        "peak_rss_mb": b.peak_rss_mb,
        "entry_tail_s": {"value": t[0], "percentile": t[1], "n": t[2]} if t else {"value": None, "percentile": None, "n": len(walls)},
    }
    metrics_spec = spec["per_layer" if args.trace else "end_to_end"]
    if traces is None:
        values = record["end_to_end"]
    else:
        values, entries = per_layer(b, traces)
        _job_spans(b, entries)
        record["per_layer"] = values
        record["entries"] = entries
        record["trace_overhead"] = _trace_overhead(out_dir, args.workload, record["end_to_end"]["pass_s"], cpus)
    stem = f"{args.workload}-c{cpus}-t{args.trace}-s{args.seed}"
    _write(out_dir / f"{stem}.json", record)
    if traces is not None:
        with open(out_dir / f"{stem}.spans.jsonl", "w", encoding="utf-8") as f:
            for s in b.spans:
                f.write(json.dumps(s) + "\n")
        if record["trace_overhead"]:
            print(f"perfbench: tracing overhead {record['trace_overhead']['ratio']:.3f}x pass_s", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in metrics_spec},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
