"""Benchmark of the big_data_bowl_spark query engine.

Run from the repository root:

    python3 perfbench/run.py --workload tracking_sf1 --seed 1 \
        --seconds 20 --trace 0

One process is one closed-loop client.  It generates the seeded inputs
(cached under ``.perfbench_cache/``), computes each query's expected result
with its DuckDB oracle (cached per input set), builds the engine's session
at ``local[<cores>]`` with as many shuffle partitions, runs one cold pass
that checks every query against its oracle and the workload's untimed warm
passes, then times passes over the workload's query list, each query
forced through the noop sink, for about ``--seconds``.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the session also writes
Spark's event log, sets a job group per (workload, query, pass, phase),
wraps the traced modules' public functions (``spans.py``) and reports
per-layer metrics instead.  A fuller record, with host provenance, goes to
``.perfbench_cache/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CACHE = ".perfbench_cache"
PROBE_TTL_S = 600
KEEP_INPUTS = 8  # generated input sets kept in the cache
GEN_STRESS = os.path.join("scripts", "gen_stress_sf.py")
# files of the program that the benchmark needs in its working directory
REQUIRED = ("big_data_bowl_spark/queries.py", "big_data_bowl_spark/oracles.py",
            "big_data_bowl_spark/session.py", GEN_STRESS,
            "bench.py", "tests/test_oracle_parity.py")
# physical operators that evaluate Python; no name contains another
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas")


def _now() -> float:
    return time.perf_counter()


def _cores() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# inputs and expected results (excluded from every metric)
# --------------------------------------------------------------------------

def _sha256(*parts: bytes) -> str:
    h = hashlib.sha256()
    for part in parts:
        h.update(part)
    return h.hexdigest()


def input_key(wl, seed: int) -> str:
    """Cache key of a workload's inputs: its shape, the seed, and the
    generator's sources, so an edited generator never reuses old files."""
    here = os.path.dirname(os.path.abspath(__file__))
    srcs = []
    for path in (os.path.join(here, "gen.py"), GEN_STRESS):
        with open(path, "rb") as fh:
            srcs.append(fh.read())
    return f"{wl.data_key}-seed{seed}-{_sha256(*srcs)[:12]}"


def ensure_data(cache: str, key: str, wl, seed: int) -> str:
    out = os.path.join(cache, "data", key)
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if wl.replicas == 1:
        gen.base_tables(tmp, seed)
    else:
        base = tmp + ".base"
        shutil.rmtree(base, ignore_errors=True)
        gen.base_tables(base, seed)
        gen.replicated(base, tmp, wl.replicas)
        shutil.rmtree(base)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # every seed has its own inputs; keep disk use bounded
    parent = os.path.dirname(out)
    kept = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime)
    for old in kept[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def _digest(norm) -> str:
    return _sha256(repr(norm).encode())


def ensure_expected(cache: str, key: str, queries, data: str, oracles,
                    normalize) -> dict:
    """Query -> {"columns", "rows", "digest"} of the oracle's result.
    Entries are cached per input key.  Each one carries the sha256 of its
    oracle SQL and of the normalization, and is recomputed when either
    has changed since."""
    path = os.path.join(cache, "expected", f"{key}.json")
    have = {}
    if os.path.exists(path):
        with open(path) as fh:
            have = json.load(fh)
    norm_src = inspect.getsource(normalize).encode()
    source = {q: _sha256(oracles[q].encode(), norm_src) for q in queries}
    todo = [q for q in queries
            if have.get(q, {}).get("source_sha256") != source[q]]
    if todo:
        import duckdb
        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data}/{t}.parquet')")
            for q in todo:
                res = con.execute(oracles[q])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                have[q] = {"columns": sorted(cols), "rows": len(rows),
                           "digest": _digest(normalize(rows, cols)),
                           "source_sha256": source[q]}
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(have, fh)
        os.replace(path + ".tmp", path)
    return have


def check(exp: dict, rows, cols, normalize) -> str | None:
    """None when the Spark result matches the oracle, else the reason."""
    if sorted(cols) != exp["columns"]:
        return f"columns {sorted(cols)} != oracle {exp['columns']}"
    if len(rows) != exp["rows"]:
        return f"{len(rows)} rows != oracle {exp['rows']}"
    if _digest(normalize([tuple(r) for r in rows], cols)) != exp["digest"]:
        return "values differ from the oracle"
    return None


# --------------------------------------------------------------------------
# host provenance
# --------------------------------------------------------------------------

def _source_digest(root: str) -> str:
    """Content hash of the program, for checkouts that are not git trees."""
    h = hashlib.sha256()
    for d, subdirs, files in os.walk(os.path.join(root, "big_data_bowl_spark")):
        subdirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def provenance(root: str, cache: str) -> dict:
    """Cores, commit and the repository's calibration probes.  The probes
    take several seconds on a 4-core host, so one measurement is reused by
    the runs of the next PROBE_TTL_S seconds; its age is recorded."""
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    path = os.path.join(cache, "host_probes.json")
    try:
        with open(path) as fh:
            probes = json.load(fh)
    except (OSError, ValueError):
        probes = {"measured_at": 0}
    if time.time() - probes["measured_at"] > PROBE_TTL_S:
        import bench
        probes = {"measured_at": time.time(),
                  "calibration_sec": bench.calibrate(),
                  "calibration_parallel_sec": bench.calibrate_parallel()}
        with open(path, "w") as fh:
            json.dump(probes, fh)
    return {"nproc": _cores(), "commit": commit,
            "source_sha256": _source_digest(root),
            "probe_age_s": round(time.time() - probes["measured_at"], 1),
            "calibration_sec": probes["calibration_sec"],
            "calibration_parallel_sec": probes["calibration_parallel_sec"]}


# --------------------------------------------------------------------------
# memory: resident set of the driver JVM and its Python workers
# --------------------------------------------------------------------------

def _process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:  # the process ended since the tree was read
            pass
    return total * os.sysconf("SC_PAGE_SIZE")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's vCPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor since ``since``."""
    steal, total = _cpu_ticks()
    return (steal - since[0]) / max(1, total - since[1])


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree.  Reads the few known processes
    every ``period`` seconds and walks ``/proc`` for new ones only every
    ``rescan`` seconds, to keep the sampler off the driver's cores."""

    def __init__(self, pid: int, period: float = 0.1, rescan: float = 1.0):
        super().__init__(daemon=True)
        self.pid, self.period, self.rescan = pid, period, rescan
        self.peak = 0
        self._stop_ev = threading.Event()

    def run(self):
        scanned, pids = 0.0, []
        while not self._stop_ev.is_set():
            if _now() - scanned >= self.rescan:
                scanned, pids = _now(), _process_tree(self.pid)
            self.peak = max(self.peak, _rss_bytes(pids))
            self._stop_ev.wait(self.period)

    def stop(self) -> int:
        self._stop_ev.set()
        self.join()
        return max(self.peak, _rss_bytes(_process_tree(self.pid)))


# --------------------------------------------------------------------------
# the session
# --------------------------------------------------------------------------

def configure_environment(root: str, cache: str, log_dir: str | None):
    """Process environment the JVM and its Python workers inherit."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the spark-submit launcher included: temp files in the
    # cache, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {"spark.ui.showConsoleProgress": "false"}
    if log_dir:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the workers) to end."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def final_plan(plan: str) -> str:
    """The executed plan without AQE's "== Initial Plan ==" subtrees.
    After a run an ``AdaptiveSparkPlan`` prints its final plan and then
    the initial one; only the final one executed."""
    kept, skip_from = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        # the initial plan is the last child of its AdaptiveSparkPlan: its
        # subtree is every following line indented at least as deep as
        # the header's text
        if skip_from is not None:
            if depth >= skip_from:
                continue
            skip_from = None
        if "== Initial Plan ==" in line:
            skip_from = depth
            continue
        kept.append(line)
    return "\n".join(kept)


def plan_counts(plan: str) -> dict:
    plan = final_plan(plan)
    # "ReusedExchange " contains "Exchange "; count it as plans/lint.py does
    return {"plans.exchanges": plan.count("Exchange ")
            - plan.count("ReusedExchange "),
            "plans.sort_merge_joins": plan.count("SortMergeJoin"),
            "plans.broadcast_joins": plan.count("BroadcastHashJoin")
            + plan.count("BroadcastNestedLoopJoin"),
            "plans.python_nodes": sum(plan.count(n) for n in PYTHON_NODES),
            "plans.lines": len(plan.splitlines())}


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def _m(value, unit):
    return {"value": value, "unit": unit}


def per_layer(tracer, groups: dict, traced_passes: list, pass_times: dict,
              plans: dict) -> dict:
    """Per traced pass totals, then the median over traced passes.  Query
    execution ids are ``<workload>/<query>/<pass>``."""
    rows = []
    for p in traced_passes:
        sp = [s for s in tracer.spans
              if s[5] is not None and s[5].rsplit("/", 1)[1] == str(p)]
        row = {"queries.build_s": 0.0, "queries.exec_s": 0.0,
               "queries.build_jobs": 0, "queries.exec_jobs": 0,
               "spark.stage_wall_s": 0.0, "spark.driver_gap_s": 0.0,
               "spark.stages": 0, "spark.tasks": 0}
        row.update({f"spark.{m}": 0.0 for m in eventlog.STAGE_METRICS})
        for layer in spans.LAYERS:
            row[f"{layer}.self_s"], row[f"{layer}.calls"] = 0.0, 0
        # query window = build start .. exec end, per query execution
        window: dict[str, list[float]] = {}
        for _, name, t0, t1, _, ex in sp:
            if name in ("queries.build", "queries.exec"):
                row[f"{name}_s"] += t1 - t0
                w = window.setdefault(ex, [t0, t1])
                w[0], w[1] = min(w[0], t0), max(w[1], t1)
        for name, (self_s, calls) in spans.self_times(sp).items():
            if name in spans.LAYERS:
                row[f"{name}.self_s"] += self_s
                row[f"{name}.calls"] += calls
        for ex, (lo, hi) in window.items():
            intervals = []
            for phase in ("build", "exec"):
                g = groups.get(f"{ex}/{phase}")
                if g is None:
                    continue
                row[f"queries.{phase}_jobs"] += g.jobs
                row["spark.stages"] += g.stages
                row["spark.tasks"] += g.tasks
                row["spark.stage_wall_s"] += sum(b - a for a, b in g.intervals)
                for m in eventlog.STAGE_METRICS:
                    row[f"spark.{m}"] += g.sums[m]
                intervals += g.intervals
            row["spark.driver_gap_s"] += (hi - lo) - spans.union_length(
                intervals, lo, hi)
        rows.append(row)
    out = {}
    for key in rows[0]:
        unit = ("bytes" if "_bytes" in key else
                "s" if key.endswith("_s") else "count")
        out[key] = _m(statistics.median(r[key] for r in rows), unit)
    for key, v in plans.items():
        out[key] = _m(v, "count")
    # each traced pass against the mean of the untraced passes around it,
    # so the JVM's continuing warm-up does not read as negative overhead
    out["trace.pass_s"] = _m(statistics.median(
        pass_times[p] for p in traced_passes), "s")
    out["trace.overhead_s"] = _m(statistics.median(
        pass_times[p] - (pass_times[p - 1] + pass_times[p + 1]) / 2
        for p in traced_passes), "s")
    return out


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Client:
    """One closed-loop client: runs queries in order and keeps the tally."""

    def __init__(self, spark, queries, data: str, workload: str, trace: bool):
        self.spark, self.queries, self.data = spark, queries, data
        self.workload, self.trace = workload, trace
        self.tracer = spans.Tracer() if trace else None
        self.attempted = self.failed = 0
        self.failures: list[tuple[str, str]] = []
        self.query_times: list[tuple[str, str, float]] = []  # (q, pass, s)

    def _fail(self, q: str, where: str, exc: Exception | str) -> None:
        why = exc if isinstance(exc, str) else \
            f"{type(exc).__name__}: {exc}".splitlines()[0]
        self.failed += 1
        self.failures.append((q, f"{where}: {why}"))
        print(f"perfbench: {q} FAILED in {where}: {why}", file=sys.stderr)

    def _group(self, group: str, q: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, q)

    def checked_pass(self, names, expected: dict, normalize, executed_plan,
                     plans: dict) -> float:
        """The cold pass: collect each result and compare it with the
        oracle.  Returns the seconds spent outside Spark (comparison and
        plan reading), which set-up does not count."""
        outside = 0.0
        for q in names:
            self.attempted += 1
            self._group(f"{self.workload}/{q}/cold", q)
            try:
                df = self.queries[q](self.spark, self.data)
                rows = df.collect()
                t0 = _now()
                why = check(expected[q], rows, df.columns, normalize)
                if self.trace:
                    for k, v in plan_counts(executed_plan(df)).items():
                        plans[k] += v
                outside += _now() - t0
            except Exception as exc:  # a failing query is a result
                why = exc
            if why:
                self._fail(q, "the checked pass", why)
        return outside

    def noop_pass(self, names, label: str, traced: bool = False,
                  timed: bool = True) -> float:
        """One pass through the noop sink; returns its wall seconds.  An
        untimed (warm-up) pass adds no query samples."""
        tr = self.tracer if traced else None
        if tr:
            tr.install()
        t_pass = _now()
        for q in names:
            self.attempted += 1
            ex = f"{self.workload}/{q}/{label}"
            if tr:
                tr.exec_id = ex
            t0 = _now()
            try:
                self._group(f"{ex}/build", q)
                with tr.span("queries.build") if tr else nullcontext():
                    df = self.queries[q](self.spark, self.data)
                self._group(f"{ex}/exec", q)
                with tr.span("queries.exec") if tr else nullcontext():
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # counted, reported, the run goes on
                self._fail(q, f"pass {label}", exc)
            if timed:
                self.query_times.append((q, label, _now() - t0))
        wall = _now() - t_pass
        if tr:
            tr.uninstall()
        return wall


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(root, f))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wl = WORKLOADS[args.workload]
    cache = os.path.join(root, CACHE)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    key = input_key(wl, args.seed)
    data = ensure_data(cache, key, wl, args.seed)
    prov = provenance(root, cache)
    log_dir = None
    if args.trace:
        # only the latest traced run's event log is kept
        shutil.rmtree(os.path.join(cache, "eventlog"), ignore_errors=True)
        log_dir = os.path.join(cache, "eventlog", tag)
        os.makedirs(log_dir)
    configure_environment(root, cache, log_dir)

    # set-up: program import, session, the checked cold pass and the
    # untimed warm passes; the oracle work and the comparison are not
    # counted
    t_setup = _now()
    from big_data_bowl_spark.oracles import ORACLES
    from big_data_bowl_spark.plans.inspect import executed_plan
    from big_data_bowl_spark.queries import QUERIES
    from big_data_bowl_spark.session import build_session
    from tests.test_oracle_parity import _normalize
    excluded = _now()
    expected = ensure_expected(cache, key, wl.queries, data, ORACLES,
                               _normalize)
    excluded = _now() - excluded
    cores = _cores()
    spark = build_session(app_name=f"perfbench-{args.workload}",
                          master=f"local[{cores}]",
                          shuffle_partitions=cores)
    client = Client(spark, QUERIES, data, args.workload, bool(args.trace))
    plans = dict.fromkeys(plan_counts(""), 0)
    excluded += client.checked_pass(wl.queries, expected, _normalize,
                                    executed_plan, plans)
    warm_times = [client.noop_pass(wl.queries, f"warm{i}", timed=False)
                  for i in range(wl.warm)]
    setup_s = _now() - t_setup - excluded

    ticks = _cpu_ticks()
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    n_passes = max(2, round(args.seconds / wl.pass_s))
    # a traced run alternates untraced and traced passes, starting and
    # ending with an untraced one; it makes n_passes // 2 traced passes, so
    # it costs about one pass more than an untraced run
    if args.trace:
        n_passes = 2 * max(1, n_passes // 2) + 1
    schedule = [(p, bool(args.trace) and p % 2 == 1)
                for p in range(n_passes)]
    pass_times = {p: client.noop_pass(wl.queries, str(p), traced)
                  for p, traced in schedule}
    peak_rss = sampler.stop()
    prov["cpu_steal_share"] = round(steal_share(ticks), 4)
    stop_session(spark)

    results = os.path.join(cache, "results")
    os.makedirs(results, exist_ok=True)
    jobs = None
    if args.trace:
        groups = eventlog.read(eventlog.find_log(log_dir))
        jobs = {g: n.jobs for g, n in sorted(groups.items())}
        client.tracer.dump(os.path.join(results, f"{tag}-spans.jsonl"))
        metrics = per_layer(client.tracer, groups,
                            [p for p, t in schedule if t], pass_times, plans)
        metrics["memory.peak_rss_mb"] = _m(peak_rss / 2**20, "MB")
    else:
        metrics = {
            "setup_s": _m(setup_s, "s"),
            "pass_s": _m(statistics.median(pass_times.values()), "s"),
            "query_s.p50": _m(statistics.median(
                t for _, _, t in client.query_times), "s"),
        }
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "provenance": prov, "queries": list(wl.queries),
              "warm_pass_times": warm_times, "pass_times": pass_times,
              "query_samples": len(client.query_times),
              "query_times": client.query_times,
              "failures": client.failures, "jobs_per_group": jobs,
              "metrics": metrics}
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"provenance": prov, "passes": len(pass_times),
                      "query_samples": len(client.query_times)}))
    print(json.dumps({"correct": client.failed == 0,
                      "attempted": client.attempted,
                      "failed": client.failed, "metrics": metrics}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
