#!/usr/bin/env python3
"""End-to-end benchmark of the text-reuse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process per run: it generates the
workload's inputs from ``--seed`` under ``.perfbench/`` in the current
directory, starts Spark at ``local[nproc]``, sets up, then runs timed
passes until ``--seconds`` of passes have been measured, checking every
pass's outputs. ``setup_s`` is the time from the start of this script to
the first timed pass, less input generation: interpreter and JVM start,
session, table registration and warm-up, all cold, as a batch job pays
them. The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: end-to-end metrics with ``--trace 0``; per-layer
metrics, read by Spark job group from the status stores, with
``--trace 1`` (which also writes the run's spans to
``.perfbench/spans-<workload>-<seed>.json``). The lines before it report each metric's sample count, median and IQR, the
host's nproc and load averages, every failed check, and each pass's
output value hashes and Chinese Whispers (CW) iteration count, so runs
with one seed can be compared.

With ``--seconds`` shorter than a pass (as in BENCHMARK.json) a run
times one pass, the first after set-up: what a fresh batch job pays,
JVM warm-up included. A warmed second pass would not fit the run
budget. ``trace.overhead_s`` is the traced run's own bookkeeping inside
the pass; ``trace.pass_s`` minus an untraced run's ``pass_s`` on the
same seed is the whole tracing overhead.

Workloads:

- ``textreuse_dag``: the reference DAG, 26 registry assets from BLAST
  hits to coverages (``dag.py`` says which 9 of the 35 are left out),
  materialised from scratch through ``plans.registry`` on a seeded
  reference-shaped corpus. The only workload that writes, and the only
  one that runs CW.
- ``headline``: the 22 ``bench=True`` registry queries on seeded
  tables with the testdata schemas, one parquet row group per table
  (the layout ``functions/skew.spread_small_input`` acts on), in
  registry order. Read-only; bypasses CW and the registry.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse
import atexit
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: text-reuse corpus and CW settings (full / smoke scale). CW runs with
#: the activity floor the reference pipeline uses (min_active 0.001), but
#: on corpora of 40-100 documents it needs 44-93 iterations of 1.4-2 s
#: each to reach it: more than the benchmark's run budget allows for 24
#: runs. The cap of 6 iterations is what that budget leaves: over them
#: the active share falls from about 95% to about 48% of the vertices.
DAG = {"docs": 100, "hits": 8_000, "max_iter": 6, "min_active": 0.001, "target_files": 4}
DAG_SMOKE = {"docs": 48, "hits": 600, "max_iter": 2, "min_active": 0.001, "target_files": 2}
#: headline table rows as a share of the sf0.01 testdata row counts. At
#: the sf0.1 counts a run takes about 40 s longer (a 47-54 s cold pass and
#: a 20 s DuckDB oracle instead of 32 s and 2 s), which the run budget
#: cannot absorb; at sf0.01 about 15% of a cold pass depends on the data.
HEADLINE_SCALE = 1.0
HEADLINE_SCALE_SMOKE = 0.1


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# statistics and process memory
# ---------------------------------------------------------------------------


def summary(values: list[float]) -> dict:
    v = sorted(values)
    q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
    return {"n": len(v), "median": statistics.median(v), "iqr": q[2] - q[0]}


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and every
    descendant: the Spark JVM, the Python worker daemon and its workers."""
    children: dict[int, list[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we listed
        children.setdefault(int(fields[1]), []).append(int(st.split("/")[2]))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def canonical(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order, NaN as a string, sorted: the
    order-insensitive form the DuckDB-oracle gate compares."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [
        tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i] for i in order)
        for r in rows
    ]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def value_hash(rows: list[tuple]) -> str:
    return hashlib.sha256("\n".join(map(repr, rows)).encode()).hexdigest()


def changed_hashes(history: list[dict], current: dict) -> list[str]:
    """Append one pass's value hashes to ``history``; name every output
    whose hash differs from the first pass's."""
    history.append(current)
    return [f"{n}: value hash changed between passes" for n, h in current.items() if history[0][n] != h]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Headline:
    """The bench=True registry queries; one operation = one query."""

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        import duckdb

        from hpc_hd_textreuse_etl_spark.catalog import TESTDATA_TABLES
        from hpc_hd_textreuse_etl_spark.plans.queries import QUERIES

        import inputs

        self.dir = os.path.join(work, "tables")
        inputs.headline_tables(self.dir, seed, HEADLINE_SCALE_SMOKE if smoke else HEADLINE_SCALE)
        self.input_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(self.dir, "*")))
        self.specs = {n: s for n, s in QUERIES.items() if s.bench}
        # registry order, the same for every seed: a seed-shuffled order
        # moves JVM warm-up cost between queries and, with it, op_p50_s
        self.names = list(self.specs)
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        self.expected = {}
        for n in self.names:
            res = con.execute(self.specs[n].oracle)
            self.expected[n] = canonical([d[0] for d in res.description], res.fetchall())
        con.close()
        self.hashes: list[dict] = []

    def register(self, spark) -> None:
        from hpc_hd_textreuse_etl_spark.catalog import load_testdata

        load_testdata(spark, self.dir)

    def warm_up(self, spark) -> None:
        # the first query of a session pays the JVM's class loading and
        # is the most load-sensitive part of a cold pass; keep it out
        self.specs[self.names[0]].builder(spark, self.dir).collect()

    def run_pass(self, spark, rec, span, results: dict) -> None:
        from hpc_hd_textreuse_etl_spark.functions.checkpoints import release_local_checkpoints

        for n in self.names:
            rec.op(n, "queries", span)
            df = self.specs[n].builder(spark, self.dir)
            rows = df.collect()
            rec.close_op()
            results[n] = (df.columns, [tuple(r) for r in rows])
            # hygiene between queries, outside the timed operation:
            # builders may pin intermediates (persist / localCheckpoint)
            rec.group("cleanup")
            spark.catalog.clearCache()
            release_local_checkpoints(blocking=True)

    def check_pass(self, results: dict) -> list[str]:
        bad, hashes = [], {}
        for n, (cols, rows) in results.items():
            got = canonical(cols, rows)
            if not got:
                bad.append(f"{n}: empty result")
            if got != self.expected[n]:
                bad.append(f"{n}: differs from the DuckDB oracle ({len(got)} vs {len(self.expected[n])} rows)")
            hashes[n] = value_hash(got)
        return bad + changed_hashes(self.hashes, hashes)

    def end_pass(self) -> None:
        pass


class TextReuseDag:
    """The text-reuse DAG; one operation = one asset."""

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        import inputs

        self.cfg = DAG_SMOKE if smoke else DAG
        self.work = work
        self.dir = os.path.join(work, "corpus")
        inputs.dag_corpus(self.dir, seed, self.cfg["docs"], self.cfg["hits"], members=nproc())
        self.input_bytes = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(self.dir, "**"), recursive=True)
            if os.path.isfile(p)
        )
        self.hashes: list[dict] = []
        self.cw_stats: list[dict] = []
        self.snapshots: list[dict] = []
        self._pass = 0

    def register(self, spark) -> None:
        pass  # the recipes read their inputs; nothing to register

    def warm_up(self, spark) -> None:
        spark.read.parquet(os.path.join(self.dir, "estc_core.parquet")).count()

    def assets_dir(self) -> str:
        return os.path.join(self.work, f"assets{self._pass}")

    def run_pass(self, spark, rec, span, results: dict) -> None:
        import dag

        stats: dict = {}
        reg = dag.build_registry(
            self.dir, lambda name: rec.op(name, dag.LAYER_OF[name], span),
            self.cfg["max_iter"], self.cfg["min_active"], stats, nproc(),
        )
        out = self.assets_dir()
        reg.materialise(
            spark, out, dag.TERMINALS,
            default_target_files=self.cfg["target_files"], clear_cache_per_asset=True,
        )
        rec.close_op()
        self.cw_stats.append(stats)
        results["dir"] = out

    def check_pass(self, results: dict) -> list[str]:
        """``examples/pipeline_scale`` sanity invariants, and terminal-asset
        value hashes that must repeat across passes. Reads the snapshots
        with pyarrow, so the checks start no Spark job."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        import dag

        snap, bad = {}, []
        for name in dag.LAYER_OF:
            files = sorted(glob.glob(os.path.join(results["dir"], f"{name}.parquet", "*.parquet")))
            snap[name] = {
                "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            }
        self.snapshots.append(snap)
        rows = {n: s["rows"] for n, s in snap.items()}
        pieces = pq.read_table(os.path.join(results["dir"], "defrag_pieces.parquet"), columns=["piece_id"])
        sanity = {
            "all_assets_nonempty": all(v > 0 for v in rows.values()),
            "defrag_piece_ids_unique": pc.count_distinct(pieces["piece_id"]).as_py() == rows["defrag_pieces"],
            "defrag_never_grows_pieces": rows["defrag_pieces"] <= rows["orig_pieces"],
            "every_defrag_piece_clustered": rows["clustered_defrag_pieces"] == rows["defrag_pieces"],
            "dedup_shrinks_edges": rows["defrag_textreuses"] <= rows["orig_textreuses"],
            "coverage_rows_bounded_by_pieces": rows["coverages"] <= 2 * rows["defrag_textreuses"],
            "book_edges_bounded": rows["book_reception_edges"] <= 4 * rows["reception_edges"],
        }
        bad += [f"{k}: sanity invariant broken" for k, ok in sanity.items() if not ok]
        hashes = {}
        for name in dag.TERMINALS + ("clustered_defrag_pieces",):
            t = pq.read_table(os.path.join(results["dir"], f"{name}.parquet"))
            hashes[name] = value_hash(canonical(t.column_names, [tuple(r.values()) for r in t.to_pylist()]))
        return bad + changed_hashes(self.hashes, hashes)

    def end_pass(self) -> None:
        shutil.rmtree(self.assets_dir(), ignore_errors=True)
        self._pass += 1


WORKLOADS = {"textreuse_dag": TextReuseDag, "headline": Headline}


# ---------------------------------------------------------------------------
# per-layer metrics (traced runs)
# ---------------------------------------------------------------------------


def layer_metrics(rec, passes, groups: dict, wl, pass_times: list[float]) -> dict:
    """Every per-layer metric, per pass (sums over the run / passes).
    A layer the workload does not exercise reports 0."""
    import dag
    from hpc_hd_textreuse_etl_spark.plans.queries import QUERIES

    n = len(passes)
    ops = [s for p in passes for s in rec.ops(p)]
    zero = {k: 0.0 for k in next(iter(groups.values()), {})}

    def layer_sum(layer: str) -> dict:
        tot = dict(zero, wall_s=0.0)
        for s in ops:
            if s.layer == layer:
                tot["wall_s"] += s.end - s.start
                for k, v in groups.get(s.group, {}).items():
                    tot[k] = tot.get(k, 0.0) + v
        return {k: v / n for k, v in tot.items()}

    snaps = getattr(wl, "snapshots", [])
    out: dict[str, tuple[float, str]] = {}
    for layer, assets in dag.LAYERS.items():
        t = layer_sum(layer)
        rows = sum(s[a]["rows"] for s in snaps for a in assets) / n
        keys = (
            ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"),
        ) + ((("input_bytes", "B"),) if layer == "sources" else (
            ("shuffle_write_bytes", "B"), ("spill_bytes", "B")))
        for k, unit in keys:
            out[f"{layer}.{k}"] = (t.get(k, 0.0), unit)
        if layer != "sources":
            out[f"{layer}.output_rows"] = (rows, "count")
        if layer == "clustering":
            cw = getattr(wl, "cw_stats", [])
            iters = sum(c.get("iterations", 0) for c in cw) / n
            out["clustering.iterations"] = (iters, "count")
            out["clustering.converged"] = (sum(bool(c.get("converged")) for c in cw) / n, "count")
            out["clustering.jobs_per_iteration"] = (t.get("jobs", 0.0) / iters if iters else 0.0, "count")
            out["clustering.state_rows_written"] = (t.get("output_records", 0.0) - rows, "count")
    written = {k: sum(v[k] for s in snaps for v in s.values()) / n for k in ("bytes", "files", "rows")}
    out["registry.bytes_written"] = (written["bytes"], "B")
    out["registry.files_written"] = (written["files"], "count")
    out["registry.rows_written"] = (written["rows"], "count")
    out["registry.bytes_written_per_input_byte"] = (written["bytes"] / wl.input_bytes, "ratio")

    lat: dict[str, list[float]] = {}
    for s in ops:
        if s.layer == "queries":
            lat.setdefault(s.name, []).append(s.end - s.start)
    for name in sorted(q for q, spec in QUERIES.items() if spec.bench):
        out[f"query.{name}.s"] = (statistics.median(lat[name]) if name in lat else 0.0, "s")
    q = layer_sum("queries")
    for k, unit in (
        ("jobs", "count"), ("tasks", "count"), ("scan_tasks", "count"), ("executor_run_s", "s"),
        ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("input_bytes", "B"), ("python_s", "s"),
        ("python_bytes_sent", "B"), ("python_bytes_returned", "B"),
    ):
        out[f"queries.{k}"] = (q.get(k, 0.0), unit)
    out["trace.pass_s"] = (statistics.median(pass_times), "s")
    out["trace.overhead_s"] = (rec.overhead_s / n, "s")
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def start_spark(work: str):
    from hpc_hd_textreuse_etl_spark.session import get_spark

    cpus = nproc()
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every job, stage and SQL execution of a run in the
            # status stores, so no job group loses data to eviction
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        },
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hpc_hd_textreuse_etl_spark")):
        print(f"perfbench: no hpc_hd_textreuse_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    atexit.register(shutil.rmtree, work, True)
    # a terminated run still removes its directory and stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the package too; they do not inherit sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the run starts (launcher and driver) keeps its temp
    # files in the run's directory and writes no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    report = {"workload": args.workload, "seed": args.seed, "nproc": nproc(),
              "loadavg_pre": list(os.getloadavg())}

    t = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, args.smoke)
    report["input_gen_s"] = time.perf_counter() - t
    report["input_bytes"] = wl.input_bytes

    import probe
    from pyspark import SparkContext

    from hpc_hd_textreuse_etl_spark.functions.checkpoints import release_local_checkpoints

    spark = start_spark(work)
    rec = probe.Recorder(spark.sparkContext, bool(args.trace), f"{args.workload}-{args.seed}")
    rec.group("setup")
    wl.register(spark)
    wl.warm_up(spark)
    # one cold sample per run: a repeat in the same process would reuse
    # the running JVM and skip its start and warm-up
    setups = [time.perf_counter() - T0 - report["input_gen_s"]]

    root = rec.begin(args.workload, "workload")
    passes, pass_times, failures, attempted = [], [], [], 0
    measured = 0.0
    while measured < args.seconds or not passes:
        span = rec.begin(f"pass{len(passes)}", "pass", root)
        results: dict = {}
        try:
            wl.run_pass(spark, rec, span, results)
        except Exception as exc:  # a failed operation ends the run
            rec.end(span)
            attempted += len(rec.ops(span))
            failures.append(f"pass {len(passes)}: {type(exc).__name__}: {str(exc)[:500]}")
            break
        rec.end(span)
        passes.append(span)
        pass_times.append(span.end - span.start)
        measured += pass_times[-1]
        attempted += len(rec.ops(span))
        rec.group("check")
        failures += wl.check_pass(results)
        wl.end_pass()
    rss = peak_rss_mb()
    rec.end(root)

    ops = [s.end - s.start for p in passes for s in rec.ops(p)]
    if args.trace:
        t = time.perf_counter()
        groups, app, problems = probe.read_groups(spark)
        report["trace_read_s"] = time.perf_counter() - t
        report["app_totals"] = app
        failures += [f"counters: {p}" for p in problems]
        for s in rec.spans:
            s.counters = groups.get(s.group, {}) if s.group else {}
        metrics = layer_metrics(rec, passes, groups, wl, pass_times) if passes else {}
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"report": report, "spans": rec.to_json()}, fh, indent=1)
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "pass_s": (statistics.median(pass_times), "s") if passes else None,
            # a pass has 22-26 operations: enough samples beyond the
            # median, too few beyond any higher percentile
            "op_p50_s": (statistics.median(ops), "s") if ops else None,
            "peak_rss_mb": (rss, "MB"),
        }
        metrics = {k: v for k, v in metrics.items() if v is not None}
        samples = {"setup_s": setups, "pass_s": pass_times, "op_p50_s": ops, "peak_rss_mb": [rss]}
        report["summary"] = {k: dict(summary(v), unit=metrics[k][1]) for k, v in samples.items() if v}
    release_local_checkpoints(blocking=True)
    spark.stop()
    # the JVM (and the Python workers it owns) ends when the pipe it
    # watches closes; wait for it rather than leave it behind
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    # one failed operation per distinct "<operation>: ..." prefix, so an
    # operation that fails several checks counts once
    failed = len({f.split(":", 1)[0] for f in failures})
    attempted = max(attempted, failed, 1)
    report.update(
        passes=len(passes), pass_s=pass_times, attempted=attempted, failed=failed,
        failed_fraction=failed / attempted, failures=failures, loadavg_post=list(os.getloadavg()),
        hashes=wl.hashes, cw=getattr(wl, "cw_stats", []),
    )
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
