"""Lakehouse ETL benchmark: one workload per process, one closed-loop client.

Run from the repository root::

    python3 perfbench/run.py --workload upsert_bulk --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` repeats the
workload with spans around every layer's public entry points and reports
the per-layer metrics instead. ``--workload all`` runs every workload
(including ``corpus_build``), untraced and traced, each in a fresh process,
and prints every metric with the tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. A readable report
of every metric the run measured goes to standard error, and the same data
as one ``{"perfbench_detail": ...}`` JSON line precedes the result.

Isolation: every run uses ``local[N]`` with N = the CPUs this process may
use, a fixed driver heap, and keeps all of its files (tables, inputs, Spark
local dirs, temp files) in a private directory under the repository root,
deleted when the run ends. Writes are never fsynced: they land in the
operating system's page cache of the filesystem holding the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# units of the end-to-end metrics BENCHMARK.json lists
END_TO_END_UNITS = {
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "setup_s": "s",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail(values: list[float]) -> dict | None:
    """The highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    beyond it, or None when fewer than twenty samples exist."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return {"value": quantile(values, p / 100), "pct": p, "n": n}
    return None


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


class Context:
    def __init__(self, spark, engine, rec, seed, work, tracer):
        self.spark, self.engine, self.rec = spark, engine, rec
        self.seed, self.work, self.tracer = seed, work, tracer

    def tag(self, op: int, kind: str) -> None:
        """Name the kind of op ``op`` (traced runs attribute by kind)."""
        if self.tracer is not None:
            self.tracer.op_kinds[op] = kind

    def note_read(self, make_df, table) -> None:
        """Traced runs only: record the pruning yield of a point read
        (files in its plan / live files)."""
        if self.tracer is not None:
            self.tracer.paused = True
            try:
                files = len(make_df().inputFiles())
                live = len(table.current_files())
            finally:
                self.tracer.paused = False
            self.tracer.reads.append(files / live if live else 0.0)


def engine_namespace():
    """Import the engine; raises ImportError when the package is absent."""
    import importlib
    from types import SimpleNamespace

    pkg = importlib.import_module(
        "learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark"
    )
    sub = lambda m: importlib.import_module(f"{pkg.__name__}.{m}")  # noqa: E731
    return pkg, SimpleNamespace(
        Table=sub("table").Table,
        TableServices=sub("table").TableServices,
        SqlSession=sub("sql_session").SqlSession,
        pipeline=sub("pipeline"),
        session=sub("session"),
        catalog=sub("plans.catalog"),
    )


def run_one(args) -> int:
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    n = cpus()
    from workloads import WORKLOADS, Recorder

    driver_mem = WORKLOADS[args.workload].DRIVER_MEM
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    pkg, eng = engine_namespace()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    from spans import Tracer, layer_metrics

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install(pkg)
    spark = gateway = None
    try:
        t0 = time.perf_counter()
        spark = eng.session.build_session(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.local.dir": str(work / "spark-local"),
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the whole fixed heap is resident from the start, so peak
                # RSS measures what the run adds outside it, not how far
                # the collector happened to grow the heap
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                    f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
                ),
            },
        )
        session_s = time.perf_counter() - t0
        gateway = spark.sparkContext._gateway
        if tracer is not None:
            tracer.spark = spark
        rec = Recorder()
        wl = WORKLOADS[args.workload](
            Context(spark, eng, rec, args.seed, str(work), tracer)
        )
        wl.setup()
        t_setup = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t_setup

        op, t_loop = 0, time.perf_counter()
        deadline = t_loop + args.seconds
        while not wl.finished(op, time.perf_counter() >= deadline):
            op += 1
            if tracer is not None:
                tracer.begin_op(op)
            try:
                more = wl.step(op)
            except Exception as e:  # noqa: BLE001 — an op that raises is a failed op
                rec.attempted += 1
                rec.fail(f"op {op}: {type(e).__name__}: {e}"[:300])
                break
            finally:
                if tracer is not None:
                    tracer.end_op()
            if not more:  # inputs used up: no op ran
                if tracer is not None:
                    tracer.op_wall.pop(op, None)
                break
            rec.attempted += 1
        loop_s = time.perf_counter() - t_loop
        if tracer is not None:
            tracer.op = -1  # the final checks are not ops

        try:
            mismatches = wl.check()
        except Exception as e:  # noqa: BLE001 — a check that cannot run fails
            mismatches = [f"check: {type(e).__name__}: {e}"[:300]]
        for m in mismatches:
            rec.fail(m)
        check_s = time.perf_counter() - t_loop - loop_s
        live, plain = wl.space()
        rss = peak_rss_mb([os.getpid(), gateway.proc.pid])
        setup = wl.setup_parts
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": n, "driver_mem": driver_mem, "loop_s": loop_s,
            "warmup_s": warmup_s, "check_s": check_s,
            "setup": {"session_s": session_s, **setup},
            "samples": {k: [round(x, 4) for x in v] for k, v in rec.samples.items()},
            "errors": rec.errors,
        }
        ops = rec.attempted
        primary = rec.samples.get(wl.primary, [])
        e2e = {
            "op_p50_s": statistics.median(primary) if primary else None,
            "ops_per_s": ops / loop_s,
            "setup_s": session_s + setup["gen_s"] + setup["seed_load_s"],
            "space_amp": live / plain,
            "peak_rss_mb": rss,
        }
        detail["end_to_end"] = e2e
        detail["named"] = named_metrics(rec, e2e, ops)
        if tracer is not None:
            detail["per_layer"] = layer_metrics(tracer, wl, n)
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            tracer.dump(str(out / f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark, gateway)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass

    report(detail)
    print(json.dumps({"perfbench_detail": detail}))
    if args.trace:
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in detail["per_layer"].items() if k in bench_layers()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": max(1, ops),
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


def bench_layers() -> set[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer"]}


def named_metrics(rec, e2e, ops) -> dict:
    """Every named end-to-end metric (see README.md) this workload defines."""
    s = rec.samples
    out = {"setup_s": (e2e["setup_s"], "s")}

    def lat(name, kind):
        v = s.get(kind)
        if v:
            out[f"{name}_p50_s"] = (statistics.median(v), "s")
            out[f"{name}_tail_s"] = (tail(v), "s")

    lat("freshness", "freshness")
    lat("upsert", "upsert")
    if s.get("upsert"):
        out["ingest_rows_per_s"] = (rec.rows["upsert"] / sum(s["upsert"]), "rows/s")
    lat("lookup", "lookup")
    lat("scan", "scan")
    if s.get("build"):
        out["corpus_build_s"] = (statistics.median(s["build"]), "s")
    out["space_amp"] = (e2e["space_amp"], "ratio")
    out["error_rate"] = (rec.failed / max(1, ops), "ratio")
    out["peak_rss_mb"] = (e2e["peak_rss_mb"], "MB")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def fmt(v) -> str:
    if isinstance(v, dict):  # a tail
        return f"{v['value']:.4f} (p{v['pct']:g}, n={v['n']})"
    if v is None:
        return "n/a (fewer than 20 samples)"
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def report(d: dict) -> None:
    w = sys.stderr.write
    w(f"\n== {d['workload']} seed={d['seed']} trace={d['trace']} "
      f"local[{d['cpus']}] driver={d['driver_mem']} warmup={d['warmup_s']:.1f}s "
      f"loop={d['loop_s']:.1f}s check={d['check_s']:.1f}s\n")
    w(f"   setup parts: {json.dumps(d['setup'])}\n")
    w(f"   samples: {json.dumps(d['samples'])}\n")
    for k, v in d["named"].items():
        w(f"   {k:<22} {fmt(v['value']):>32} {v['unit']}\n")
    listed = bench_layers()
    for k, v in d.get("per_layer", {}).items():
        if v["value"] or k in listed:  # skip layers this workload never used
            w(f"   {k:<44} {fmt(v['value']):>16} {v['unit']}\n")
    for e in d["errors"]:
        w(f"   ERROR {e}\n")


def stop_spark(spark, gateway) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_all(args) -> int:
    """Every workload untraced then traced, each in a fresh process."""
    rows, ok = {}, True
    from workloads import WORKLOADS

    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__)), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or len(lines) < 2:
                print(f"{name} trace={trace}: exit {res.returncode}", file=sys.stderr)
                ok = False
                continue
            rows[(name, trace)] = json.loads(lines[-2])["perfbench_detail"]
            ok = ok and json.loads(lines[-1])["correct"]
    print("\nworkload               metric                      untraced      traced")
    for name in WORKLOADS:
        base, traced = rows.get((name, 0)), rows.get((name, 1))
        if base is None:
            continue
        for k, v in base["named"].items():
            t = traced["named"].get(k, {}).get("value") if traced else None
            print(f"{name:<22} {k:<22} {fmt(v['value']):>14} {fmt(t):>14} {v['unit']}")
        if traced:
            # op latency carries the wrappers' cost; ops/s also carries the
            # per-op Spark bookkeeping the traced run does between ops
            for k in ("op_p50_s", "ops_per_s"):
                b, t = base["end_to_end"][k], traced["end_to_end"][k]
                print(f"{name:<22} {'trace_overhead.' + k:<22} {(t / b - 1) * 100:>+13.1f}% "
                      f"(untraced {b:.4f}, traced {t:.4f})")
    return 0 if ok else 1


def main() -> int:
    sys.path[:0] = [str(ROOT), str(HERE)]  # the engine package, then ours
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
