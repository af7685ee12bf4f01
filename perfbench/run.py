"""Seeded end-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (``perfbench/workloads.py``):

- ``ppdb_ingest``: the paper's own path. A seeded PPDB pack in gzip shards
  is parsed and aggregated with the ``ppdb_parse_throughput`` plan, parsed
  and written to parquet with ``reshard_to_parquet``, and the parquet is
  re-queried with the ``ppdb_top_paraphrases`` plan.
- ``corpus_dedup``: the 40-job ``pipeline_incremental_ingest_report``
  (exact dedup, prefix-Jaccard pairs from the Arrow pair kernel against a
  persisted index, and connected components; plan build dominates) over a
  seeded corpus shaped like the fixture ``documents`` table.

One process drives the engine on ``local[N]`` (N = min(4, cores)), one step
at a time: a step is a plan build plus a forced full-column hash action.
A run generates (or reuses) the seed's inputs, then sets up the session
three times. Each set-up clears what the program cached on disk for these
inputs (its persisted indexes), starts a session and runs one warm-up
pass, which rebuilds those caches; the first set-up also launches the JVM,
the later ones restart the session in it. Two more untimed passes follow,
then passes repeat for ``--seconds`` (at least three). Every pass starts
from the same session state: what a pass leaves persisted is recorded,
then unpersisted. Last, every digest the run saw is checked against the
one verified for the seed: a step's output is compared once per seed,
input fingerprint and source version with a reference computed outside
Spark.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (median set-up),
``cold_setup_s`` (the first set-up, with the JVM launch), ``wall_s`` and
``cpu_s`` (median per pass; CPU of this process, the JVM and Python
workers together, from ``/proc``) and ``peak_rss_mb`` (peak resident
memory of that process tree over the timed passes, summed as PSS).
``--trace 1`` alternates untraced and traced passes and prints per-layer
metrics from the median traced pass; the spans go to
``.perfbench_work/traces/``. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

#: The checkout root: the package and the work directory are found from
#: here, so the benchmark runs from any working directory.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs as gen  # noqa: E402
from perfbench.procstat import PeakRss, host_steal_share, tree_cpu_s  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CORPUS,
    INGEST,
    KERNELS,
    WORKLOADS,
    Ctx,
    digest,
    instrumented,
    reset_program_caches,
)
from ppdb_parser_spark.plans.oracle import compare_frames  # noqa: E402
from ppdb_parser_spark.session import get_spark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

SETUPS = 3
#: Untimed passes between set-up and timing: the first passes after a
#: session restart are still warming up.
WARM_PASSES = 2
MIN_PASSES = 3


def _host() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    heap_gb = max(1, min(4, mem_kb // (6 * 1024 * 1024)))
    return {"nproc": nproc, "local_n": min(4, nproc), "heap": f"{heap_gb}g", "mem_total_mb": mem_kb // 1024}


def _configure(host: dict, tmp_dir: str) -> str:
    """Environment the session factory, the JVM and the Python workers
    read; returns the JVM options. The workers import the package by name,
    so its root goes on PYTHONPATH. Temporary files go under the run's own
    directory, not the system's."""
    os.environ["TMPDIR"] = tmp_dir
    jvm_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(host["local_n"])
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(host["local_n"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host["heap"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # a fixed-size heap, so resident memory does not depend on when the JVM
    # chose to grow it
    return f"-Xms{host['heap']} {jvm_tmp}"


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    """Runs a workload's passes and keeps every step digest it saw."""

    def __init__(self, workload, ctx):
        self.wl, self.ctx = workload, ctx
        self.digests: list[tuple[str, str | None]] = []
        self.tracer = None

    def state(self) -> tuple[int, int]:
        """(persisted RDDs, block-manager bytes) left in the session."""
        jsc = self.ctx.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        return len(jsc.getPersistentRDDs()), sum(i.memSize() + i.diskSize() for i in infos)

    def release(self) -> None:
        """Unpersist what a pass left behind (cached frames and the RDDs of
        local checkpoints), so every pass starts from the same session
        state. What was left is recorded first, as ``state()``."""
        self.ctx.spark.catalog.clearCache()
        for rdd in self.ctx.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def untraced_pass(self) -> dict:
        rec = {"steps": {}}
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        for st in self.wl.steps:
            a = time.perf_counter()
            try:
                df = st.build(self.ctx)
                b = time.perf_counter()
                d = st.act(self.ctx, df)
            except Exception:
                traceback.print_exc()
                b, d = time.perf_counter(), None
            c = time.perf_counter()
            self.digests.append((st.name, d))
            rec["steps"][st.name] = {"build_s": b - a, "action_s": c - b}
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        rec["persisted_rdds"], rec["blockmgr_bytes"] = self.state()
        self.release()
        return rec

    def traced_pass(self) -> dict:
        """The untraced pass's steps, in spans, with the program's public
        functions wrapped in spans too; then the layer probes, outside the
        pass."""
        tr = self.tracer
        with instrumented(tr), tr.span("pass", "harness") as root:
            for st in self.wl.steps:
                d = None
                with tr.span(f"queries.{st.name}", "queries") as s:
                    try:
                        with tr.span(f"queries.{st.name}.build", "queries"):
                            df = st.build(self.ctx)
                        with tr.span(f"queries.{st.name}.action", "queries"):
                            d = st.act(self.ctx, df)
                    except Exception:
                        traceback.print_exc()
                    s.counts["persisted_rdds"], s.counts["blockmgr_bytes"] = self.state()
                self.digests.append((st.name, d))
        rec = {"root": root, "wall_s": root.seconds}
        rec["persisted_rdds"], rec["blockmgr_bytes"] = self.state()
        self.release()
        with tr.span("probes", "harness") as probes:
            self.wl.probes(self.ctx, tr)
        rec["probes"] = probes
        tr.count_jobs(tr.subtree(root) + tr.subtree(probes))
        return rec


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to end."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _source_hash() -> str:
    """sha256 over the program's and the benchmark's Python sources, so a
    digest verified against one version of the code is not reused for
    another."""
    h = hashlib.sha256()
    for pkg in ("ppdb_parser_spark", "perfbench"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, pkg)):
            dirnames.sort()
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    path = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def _verify(wl, ctx, cache_path: str) -> dict[str, str | None]:
    """Digest per step, recorded only when the step's output equals the
    reference computed outside Spark. Cached per seed, input fingerprint
    and source hash when every step passed; a failed check is never
    cached."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    refs = wl.references(ctx)
    verified: dict[str, str | None] = {}
    for st in wl.steps:
        ref = refs[st.name]
        df = st.build(ctx)
        if isinstance(ref, str):
            d = st.act(ctx, df)
            ok, detail = d == ref, f"{d} vs {ref}"
        else:
            df = df.persist()  # one execution serves the comparison and the digest
            res = compare_frames(st.name, df.toPandas(), ref)
            ok, detail, d = res.ok, res.detail, digest(df)
            df.unpersist(blocking=True)
        print(f"verify {st.name}: {'PASS' if ok else 'FAIL'} {detail}", file=sys.stderr)
        verified[st.name] = d if ok else None
    if all(v is not None for v in verified.values()):
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path, "w") as f:
            json.dump(verified, f)
    return verified


def _layer_metrics(bench: Bench, traced: list[dict], untraced: list[dict], setup: dict, parquet_bytes: int) -> dict:
    """Per-layer metrics from the median traced pass (the lower median, so
    the figures come from one real pass and its self times add up). The
    untraced wall it is compared with is the lower median too."""
    med = sorted(traced, key=lambda r: r["wall_s"])[(len(traced) - 1) // 2]
    root = med["root"]
    spans = bench.tracer.subtree(root)
    probes = {s.name: s for s in bench.tracer.subtree(med["probes"])}

    def total(name: str) -> float:
        """Seconds of every span of that name in the pass."""
        return sum(s.seconds for s in spans if s.name == name)

    def probe(name: str) -> float:
        return probes[name].seconds if name in probes else 0.0

    def per_s(name: str, key: str) -> float:
        return probes[name].counts[key] / probes[name].seconds if name in probes else 0.0

    m: dict[str, float] = {
        "session.get_spark_s": _median(setup["get_spark_s"]),
        "session.cold_get_spark_s": setup["get_spark_s"][0],
        "sources.input_gen_s": bench.ctx.inputs.gen_s,
        "sources.gzip_scan_s": probe("sources.gzip_scan"),
        "sources.gzip_scan_lines_per_s": per_s("sources.gzip_scan", "lines"),
        "sources.parquet_write_s": total("sources.reshard_to_parquet"),
        "sources.parquet_bytes_per_input_byte": parquet_bytes / bench.ctx.inputs.pack_bytes,
        "sources.parquet_read_s": probe("sources.parquet_read"),
        "sources.table_scan_s": probe("sources.table_scan"),
        "operators.parse_ppdb_s": probe("operators.parse_ppdb"),
        "operators.parse_ppdb_lines_per_s": per_s("operators.parse_ppdb", "lines"),
    }
    for fn in KERNELS:
        m[f"operators.{fn}_s"] = total(f"operators.{fn}")
    for st in INGEST + CORPUS:
        m[f"queries.{st.name}.build_s"] = total(f"queries.{st.name}.build")
        m[f"queries.{st.name}.action_s"] = total(f"queries.{st.name}.action")
        m[f"queries.{st.name}.jobs"] = sum(
            s.counts.get("jobs", 0)
            for step in spans
            if step.name == f"queries.{st.name}"
            for s in bench.tracer.subtree(step)
        )
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"queries.{key}"] = sum(s.counts.get(key, 0) for s in spans)
    m["queries.persisted_rdds_left"] = med["persisted_rdds"]
    m["queries.blockmgr_bytes_left"] = med["blockmgr_bytes"]
    self_s = bench.tracer.self_seconds(root)
    for layer in ("sources", "operators", "queries", "harness"):
        m[f"self.{layer}_s"] = self_s.get(layer, 0.0)
    m["trace.wall_s"] = root.seconds
    m["trace.untraced_wall_s"] = sorted(r["wall_s"] for r in untraced)[(len(untraced) - 1) // 2]
    m["trace.overhead_s"] = m["trace.wall_s"] - m["trace.untraced_wall_s"]
    return m


def _tail(xs: list[float]) -> dict:
    """The highest percentile of ``xs`` with at least ten samples beyond it,
    by nearest rank, and the sample count. With ten samples or fewer no
    percentile has that, and the largest sample is given as ``p`` 100."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return {"n": n, "p": 100, "value_s": xs[-1]}
    p = 100 * (n - 10) // n
    return {"n": n, "p": p, "value_s": xs[math.ceil(p * n / 100) - 1]}


def _unit(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_per_input_byte", "ratio"), ("_mb", "MB"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "bytes" if "bytes" in name else "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wl = WORKLOADS[args.workload]
    host = _host()
    work_dir = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    jvm_options = _configure(host, os.path.join(run_dir, "tmp"))
    phases = {"start": time.perf_counter()}
    inputs = gen.build(work_dir, args.seed)
    phases["gen_end"] = time.perf_counter()
    ctx = Ctx(None, inputs, run_dir)
    bench = Bench(wl, ctx)
    setup = {"get_spark_s": [], "setup_s": [], "passes": []}
    passes: list[dict] = []
    traced: list[dict] = []
    parquet_bytes = 0
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            reset_program_caches(ctx)
            t0 = time.perf_counter()
            spark = ctx.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": jvm_options,
                },
            )
            t1 = time.perf_counter()
            setup["passes"].append(bench.untraced_pass())
            setup["get_spark_s"].append(t1 - t0)
            setup["setup_s"].append(time.perf_counter() - t0)

        for _ in range(WARM_PASSES):
            bench.untraced_pass()
        if args.trace:
            bench.tracer = Tracer(spark)
        steal0 = host_steal_share()
        with PeakRss() as rss:
            t_start = time.perf_counter()
            while time.perf_counter() - t_start < args.seconds or len(passes) < MIN_PASSES:
                passes.append(bench.untraced_pass())
                if args.trace:
                    traced.append(bench.traced_pass())

        phases["timed_end"] = time.perf_counter()
        steal = host_steal_share(steal0)
        verified = _verify(
            wl, ctx, os.path.join(work_dir, "verified", f"{wl.name}-seed{args.seed}-{inputs.fingerprint[:16]}-{_source_hash()[:16]}.json")
        )
        if os.path.isdir(ctx.parquet_out):
            parquet_bytes = sum(
                os.path.getsize(os.path.join(ctx.parquet_out, f))
                for f in os.listdir(ctx.parquet_out)
                if f.endswith(".parquet")
            )
        phases["verify_end"] = time.perf_counter()
    finally:
        if spark is not None:
            _stop_spark(spark)
        reset_program_caches(ctx)
        shutil.rmtree(ctx.work_dir, ignore_errors=True)
    phases["stop_end"] = time.perf_counter()

    failed = 0
    for name, d in bench.digests:
        if d is None or d != verified.get(name):
            failed += 1
            print(f"step {name}: digest {d} != verified {verified.get(name)}", file=sys.stderr)
    walls = sorted(r["wall_s"] for r in passes)
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "local_n": host["local_n"],
        "heap": host["heap"],
        "nproc": host["nproc"],
        "mem_total_mb": host["mem_total_mb"],
        "passes": len(passes),
        "pass_walls_s": [round(r["wall_s"], 3) for r in passes],
        "failed_ops_ratio": failed / len(bench.digests),
        "host_steal_share": steal,
        "wall_tail_s": _tail(walls),
        "setup_samples_s": setup["setup_s"],
        "get_spark_samples_s": setup["get_spark_s"],
        "input_fingerprint": inputs.fingerprint[:16],
        "phases_s": {k: round(v - phases["start"], 2) for k, v in phases.items()},
        "state_after_passes": [(r["persisted_rdds"], r["blockmgr_bytes"]) for r in passes],
        "setup_step_walls_s": [
            {k: round(v["build_s"] + v["action_s"], 3) for k, v in r["steps"].items()} for r in setup["passes"]
        ],
        "step_walls_s": {
            st.name: _median([r["steps"][st.name]["build_s"] + r["steps"][st.name]["action_s"] for r in passes])
            for st in wl.steps
        },
    }
    if args.trace:
        metrics = _layer_metrics(bench, traced, passes, setup, parquet_bytes)
        trace_dir = os.path.join(work_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        bench.tracer.dump(os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json"))
    else:
        metrics = {
            "setup_s": _median(setup["setup_s"]),
            "cold_setup_s": setup["setup_s"][0],
            "wall_s": _median(walls),
            "cpu_s": _median([r["cpu_s"] for r in passes]),
            "peak_rss_mb": rss.peak / 2**20,
        }
    print("info " + json.dumps(info))
    result = {
        "correct": failed == 0 and all(v is not None for v in verified.values()),
        "attempted": len(bench.digests),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
