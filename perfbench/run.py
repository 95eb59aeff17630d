#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {registry,release} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Steps, in order:

1. generate the seeded inputs (``gen.py``) into ``.perfbench_work/``; not
   counted in any metric;
2. start one Spark session on ``local[min(4, cores)]`` and warm up
   untimed with the timed ops themselves (``setup_s`` ends here): registry
   queries are counted four at a time; a pipeline runs two whole passes;
3. run timed passes until ``--seconds`` of passes are measured (at least
   one). ``--trace 1`` instead runs one more untimed pass, then
   alternates untraced and traced passes and reports the per-layer
   metrics of the traced ones;
4. check outputs against DuckDB (``check.py``), outside the timed region:
   every registry query's result, collected four at a time after the
   timed passes, against its oracle, and every timed count against the
   oracle's row count; a pipeline's last pass target by target, and every
   earlier pass by row counts.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json,
or its ``per_layer`` metrics with ``--trace 1``). The line before it
carries the input hash, rows and bytes per table, ``write_amp`` and
``failed_ops_frac``. Exits non-zero without a result when the program or
its source tables are missing.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
THREADS = 4  # concurrent registry warm-up and result queries, and pipeline checks


class Unavailable(Exception):
    """The program or its inputs are not present; no result is printed."""


def declared_metrics() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def source_dirs() -> dict[str, str]:
    """Source table directories by scale name ("sf0.1" -> dir), from the
    repository's data contract TESTDATA.md; $PERFBENCH_DATA overrides the
    root directory that holds them."""
    override = os.environ.get("PERFBENCH_DATA")
    if override:
        return {d: os.path.join(override, d) for d in os.listdir(override)}
    path = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.exists(path):
        raise Unavailable("TESTDATA.md not found and $PERFBENCH_DATA unset")
    with open(path) as fh:
        found = re.findall(r"`([^`\s]*/(sf[0-9.]+))/?`", fh.read())
    return {name: d for d, name in found}


def select(computed: dict[str, float], declared: list[dict]) -> dict[str, dict]:
    """Exactly the declared metrics, in declared order, with units."""
    missing = [m["name"] for m in declared if m["name"] not in computed]
    if missing:
        raise KeyError(f"declared metrics not computed: {missing}")
    return {m["name"]: {"value": float(computed[m["name"]]), "unit": m["unit"]}
            for m in declared}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def start_spark(work: str):
    from impc_etl_spark.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark and the JVMs write inside the work directory;
    # -XX:-UsePerfData stops the JVMs writing /tmp/hsperfdata_<user>
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# ops
# ---------------------------------------------------------------------------

class Runner:
    """Runs the ops of one workload; with a tracer attached, every op gets
    spans, a job group and a status readout."""

    def __init__(self, spark, workload, input_dir: str, out_root: str):
        self.spark = spark
        self.wl = workload
        self.input_dir = input_dir
        self.out_root = out_root
        self.tracer = None
        self.reader = None
        self.ops = []  # OpRecords of traced passes
        if workload.kind == "registry":
            import __spark_entry__
            from workloads import REGISTRY

            qs = __spark_entry__.queries()
            missing = [n for n in REGISTRY if n not in qs]
            if missing:
                raise RuntimeError(f"registry entries missing: {missing}")
            self.queries = {n: qs[n] for n in REGISTRY}
            self.op_names = list(REGISTRY)
        else:
            from workloads import PIPELINES

            self.build, goals, self.checks = PIPELINES[workload.name]
            self.op_names = list(goals)

    # -- one op ------------------------------------------------------------
    def _registry_op(self, fn) -> int:
        """Build the query and force it with a count (``Dataset.count`` is
        ``groupBy().count()``; collecting that frame is the same plan)."""
        return fn(self.spark, self.input_dir).groupBy().count().collect()[0][0]

    def _traced_registry_op(self, op: str, name: str) -> int:
        sc = self.spark.sparkContext
        t = self.tracer
        fn = t.wrap(self.queries[name], f"queries:{name}")
        sc.setJobGroup(f"{op}:build", name)
        with t.span("queries.build"):
            df = fn(self.spark, self.input_dir)
        sc.setJobGroup(f"{op}:action", name)
        with t.span("queries.action"):
            return df.groupBy().count().collect()[0][0]

    def run_pass(self, tag: str, traced: bool = False) -> dict:
        """One full pass; returns op latencies and outcomes. A traced pass
        excludes the status readouts between ops from ``pass_s``."""
        root = os.path.join(self.out_root, tag)
        pipeline = None
        if self.wl.kind == "pipeline":
            shutil.rmtree(root, ignore_errors=True)
            pipeline = self.build(self.spark, self.input_dir, root)
        lat, ok, counts, errors = [], [], {}, {}
        readout = 0.0
        t_pass = time.perf_counter()
        for i, name in enumerate(self.op_names):
            op = f"{tag}.{i}"
            if traced:
                self.tracer.op = op
                self.spark.sparkContext.setJobGroup(f"{op}:op", name)
            w0, t0 = time.time(), time.perf_counter()
            good = True
            try:
                if self.wl.kind == "registry":
                    counts[name] = (self._traced_registry_op(op, name) if traced
                                    else self._registry_op(self.queries[name]))
                else:
                    status = pipeline.run(name)
                    good = status.get(name) == "ran"
            except Exception as exc:  # an op that raises is a failed op
                good = False
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                traceback.print_exc(file=sys.stderr)
            lat.append(time.perf_counter() - t0)
            w1 = time.time()
            ok.append(good)
            if traced:
                from tracing import OpRecord

                self.tracer.op = None
                r0 = time.perf_counter()
                self.ops.append(OpRecord(op, name, w0, w1, good, self.reader.read()))
                readout += time.perf_counter() - r0
        pass_s = time.perf_counter() - t_pass - readout
        if self.wl.kind == "pipeline":
            counts = {n: parquet_rows(pipeline.target(n)) if os.path.isdir(pipeline.target(n))
                      else -1 for n in self.op_names}
            written = dir_bytes(root)
        else:
            written = 0
        return {"tag": tag, "root": root, "pass_s": pass_s, "lat": lat, "ok": ok,
                "counts": counts, "errors": errors, "written": written}

    # -- warm pass -----------------------------------------------------------
    def _concurrently(self, op) -> dict[str, object]:
        """``op(query)`` for every registry query, four at a time; returns
        each result, or the error it raised as a one-line string."""
        out = {}
        with ThreadPoolExecutor(THREADS) as ex:
            futs = {n: ex.submit(op, fn) for n, fn in self.queries.items()}
            for n, f in futs.items():
                try:
                    out[n] = f.result()
                except Exception as exc:
                    out[n] = f"{type(exc).__name__}: {exc}"[:300]
        return out

    def collect(self) -> dict[str, object]:
        """Every registry query's result as a pandas frame, for the oracle
        check."""
        return self._concurrently(lambda fn: fn(self.spark, self.input_dir).toPandas())

    def warm(self) -> None:
        """The untimed warm-up runs the timed ops, so that their plans are
        compiled before timing. Registry queries are independent, so they
        are counted concurrently (JIT, codegen cache and Python workers are
        process-wide); an op that fails here fails, and is recorded, in the
        timed passes."""
        if self.wl.kind == "registry":
            self._concurrently(self._registry_op)
        else:
            # two passes: the pass after the cold one still runs ~40% slower
            # while the JIT keeps compiling
            for i in range(2):
                p = self.run_pass(f"warm{i}")
                shutil.rmtree(p["root"], ignore_errors=True)
                if p["errors"]:
                    raise RuntimeError(f"warm pass failed: {p['errors']}")


# ---------------------------------------------------------------------------
# checks (outside timed regions)
# ---------------------------------------------------------------------------

def registry_oracles(input_dir: str, names) -> dict[str, object]:
    """Each registry query's oracle result (a DataFrame, or the reason it
    could not be computed), evaluated by DuckDB on the generated inputs."""
    import __spark_entry__
    import duckdb

    from check import connect

    oracles = __spark_entry__.oracle_sql()
    con = connect(input_dir)
    out = {}
    try:
        for n in names:
            try:
                out[n] = con.sql(oracles[n]).df()
            except (KeyError, duckdb.Error) as exc:
                out[n] = f"oracle failed: {type(exc).__name__}: {exc}"[:300]
    finally:
        con.close()
    return out


def check_registry(results: dict, oracle_frames: dict) -> tuple[dict[str, str], dict[str, int]]:
    """Compare each query's collected result with its oracle; returns
    (failures by name, oracle row counts by name)."""
    from check import compare_frames

    failures, rows = {}, {}
    for name, got in results.items():
        want = oracle_frames[name]
        rows[name] = -1 if isinstance(want, str) else len(want)
        if isinstance(want, str) or isinstance(got, str):
            failures[name] = want if isinstance(want, str) else got
        elif (reason := compare_frames(got, want)) is not None:
            failures[name] = reason
    return failures, rows


def check_pipeline(runner, root: str) -> dict[str, str]:
    import __spark_entry__

    from check import check_target

    oracles = __spark_entry__.oracle_sql()

    def one(item):
        name, chk = item
        return name, check_target(runner.input_dir, root, name, chk, oracles)

    with ThreadPoolExecutor(THREADS) as ex:
        return {name: reason for name, reason in ex.map(one, runner.checks.items())
                if reason}


def score(passes: list[dict], failures: dict[str, str], expected_rows: dict[str, int],
          names: list[str]) -> tuple[int, int]:
    """(attempted, failed): an op fails if it raised, if its target/query
    failed its check, or if its row count differs from the checked one."""
    attempted = failed = 0
    for p in passes:
        for name, good in zip(names, p["ok"]):
            attempted += 1
            bad = (not good or name in failures
                   or p["counts"].get(name) != expected_rows.get(name))
            failed += bad
    return attempted, failed


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end_metrics(setup_s: float, untraced: list[dict]) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in untraced),
        # median over ops of each op's median across passes: ops come in
        # size clusters, and pooling every sample lets the pooled median
        # jump between clusters from run to run
        "op_p50_s": statistics.median(
            statistics.median(lat) for lat in zip(*(p["lat"] for p in untraced))),
    }


def declared_layers(per_layer: list[dict]) -> list[str]:
    """Operator and multimodal layers reported by name in BENCHMARK.json."""
    return sorted({m["name"].rsplit(".", 1)[0] for m in per_layer
                   if m["name"].startswith(("operators.", "multimodal."))})


def per_layer_metrics(spans, ops, traced: list[dict], untraced_pass_s: float,
                      layers: list[str], run_level: dict[str, float]) -> dict:
    """Per-pass layer metrics of the traced passes, plus the tracing
    overhead and the run-level values given by name."""
    from tracing import layer_metrics

    n = len(traced)
    m = {k: v / n for k, v in layer_metrics(spans, ops, layers).items()}
    m["exec.cpu_util"] = m["exec.cpu_s"] / m["exec.run_s"] if m["exec.run_s"] else 0.0
    traced_s = statistics.median(t["pass_s"] for t in traced)
    m.update({
        "plans.runner.bytes_written": statistics.median(t["written"] for t in traced),
        "trace.pass_s": traced_s,
        "trace.overhead_s": traced_s - untraced_pass_s,
        "trace.spans": len(spans) / n,
    })
    m.update(run_level)
    return m


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import impc_etl_spark.session  # noqa: F401
    except ImportError as exc:
        raise Unavailable(f"program not importable from {ROOT}: {exc}") from exc
    from gen import generate
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    e2e, per_layer = declared_metrics()
    sources = source_dirs()
    if not os.path.isdir(sources.get(wl.source, "")):
        raise Unavailable(f"source tables {wl.source} not found")

    work = os.path.join(WORK, f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    spark = None
    try:
        g0 = time.monotonic()
        input_dir = os.path.join(work, "input")
        manifest = generate(sources[wl.source], input_dir, args.seed, wl.inputs)
        if wl.kind == "registry":
            from workloads import REGISTRY

            oracle_frames = registry_oracles(input_dir, REGISTRY)
        gen_s = time.monotonic() - g0

        s0 = time.monotonic()
        spark = start_spark(work)
        session_start_s = time.monotonic() - s0
        runner = Runner(spark, wl, input_dir, os.path.join(work, "out"))
        runner.warm()
        setup_s = time.monotonic() - PROCESS_T0 - gen_s

        if args.trace:
            # the first pass after the warm-up still runs slower while the
            # JIT compiles (about 25% on registry); untimed here, so that
            # the untraced pass a traced one is compared with is not it
            shutil.rmtree(runner.run_pass("t-warm")["root"], ignore_errors=True)
        untraced, traced = [], []
        measured = 0.0
        while not untraced or measured < args.seconds:
            p = runner.run_pass(f"p{len(untraced) + len(traced)}")
            untraced.append(p)
            measured += p["pass_s"]
            if args.trace:
                import workloads
                from tracing import StatusReader, Tracer

                runner.tracer = runner.tracer or Tracer()
                # registered for traced passes only, so untraced passes pay
                # no listener callbacks
                runner.reader = StatusReader(spark)
                runner.tracer.instrument(extra_modules=[workloads])
                try:
                    t = runner.run_pass(f"p{len(untraced) + len(traced)}", traced=True)
                finally:
                    runner.tracer.restore()
                    runner.reader.close()
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                traced.append(t)
                measured += t["pass_s"]
            # only the last pass's targets are kept, for the full check
            for old in (untraced + traced)[:-1]:
                shutil.rmtree(old["root"], ignore_errors=True)
        peak_rss_mb = jvm_peak_rss_mb(spark)

        passes = untraced + traced
        c0 = time.monotonic()
        if wl.kind == "registry":
            failures, expected = check_registry(runner.collect(), oracle_frames)
        else:
            last = passes[-1]
            failures = check_pipeline(runner, last["root"])
            expected = last["counts"]
        for p in passes:
            for name, err in p["errors"].items():
                failures.setdefault(name, err)
        attempted, failed = score(passes, failures, expected, runner.op_names)
        check_s = time.monotonic() - c0

        write_amp = statistics.median(p["written"] for p in passes) / manifest.total_bytes
        lat = [x for p in untraced for x in p["lat"]]
        detail = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "inputs": {"sha256": manifest.sha256, "tables": manifest.tables,
                       "generate_s": round(gen_s, 3)},
            "passes": len(untraced), "traced_passes": len(traced),
            "ops_timed": len(lat),
            "op_s": {n: [round(p["lat"][i], 4) for p in untraced]
                     for i, n in enumerate(runner.op_names)},
            "write_amp": write_amp,
            "failed_ops_frac": failed / attempted,
            "peak_rss_mb": peak_rss_mb,
            "op_p90_s": (statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else None),
            "check_failures": failures,
            "check_s": round(check_s, 3),
        }
        computed = end_to_end_metrics(setup_s, untraced)
        declared = e2e
        if args.trace:
            from tracing import dump

            declared = per_layer
            computed = per_layer_metrics(
                runner.tracer.spans, runner.ops, traced, computed["pass_s"],
                declared_layers(per_layer),
                {"session.start_s": session_start_s, "peak_rss_mb": peak_rss_mb,
                 "failed_ops_frac": failed / attempted, "write_amp": write_amp})
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(WORK, "traces", f"{wl.name}-{args.seed}.jsonl")
            dump(trace_path, runner.tracer.spans, runner.ops, declared_layers(per_layer))
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = select(computed, declared)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": not failures and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Unavailable as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(2)
