#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pip_hotspot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Every measurement runs in a fresh
child process pinned to ``min(4, nproc)`` cores with ``local[n]``; this
process only orchestrates, so it never loads Spark itself.

- ``--trace 0``: one untraced measurement.  Prints a report, then the
  end-to-end metrics as one JSON line (the last line of stdout).
- ``--trace 1``: one measurement with the Spark event log on whose timed
  passes alternate between untraced and traced (spans around every layer
  call, each lazy layer's output forced inside its span), so the tracing
  overhead is the difference of the two medians; a traced run always
  starts with one untimed pass, so both kinds of pass are equally warm.
  For ``pip_hotspot`` two more untraced measurements of the same input,
  pinned to n cores and to 1 core, give the scaling efficiency.
  Prints the span table, then the per-layer metrics as the last line.
  The spans are written to ``.perfbench/traces/``.

Scratch data (inputs, checkpoints, ``spark.local.dir``, event logs) lives
in ``.perfbench/scratch/`` and is removed when the run ends.
"""

from __future__ import annotations

import time

T_PROC_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170  # all measurement children of one run together
# timed window of each scaling measurement: a traced pip_hotspot run makes
# three measurements, and the 1-core one alone takes about a minute
SCALING_SECONDS = 5.0
SHUFFLE_PARTITIONS = 16  # fixed for every core count: same plan at 1 and 4 cores

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "pass_s_p50": "s",
    "peak_rss_mb": "MB",
}

# per-layer time metric -> span name whose self time it sums per pass
LAYER_SPANS = {
    "sources.extract_mentions.s": "sources.extract_mentions",
    "sources.checkpoint.write_s": "sources.checkpoint.run_stage",
    "sources.checkpoint.is_complete_s": "sources.checkpoint.is_complete",
    "functions.udfs.cell_encode_s": "functions.udfs.cell_encode",
    "spatial_join.cover_s": "spatial_join.cover",
    "spatial_join.join_s": "spatial_join.join",
    "tiling.tile_histogram_s": "tiling.tile_histogram",
    "raster.rasterize_s": "raster.rasterize",
    "knn.join_s": "knn.join",
    "shape_index.build_s": "shape_index.build",
    "shape_index.join_s": "shape_index.join",
}
# per-layer metrics a workload notes once per pass (see Workload.note)
NOTED = {
    "sources.checkpoint.bytes_written": "bytes",
    "sources.checkpoint.resume_s": "s",
    "sources.checkpoint.write_bytes_per_input_byte": "ratio",
    "kernel.coverer.cells": "count",
    "spatial_join.interior_ratio": "ratio",
    "raster.cells_in": "count",
    "shape_index.index_rows": "count",
}
SPARK_UNITS = {
    "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s",
    "spark.task_skew": "ratio", "spark.core_busy_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    **{k: "s" for k in LAYER_SPANS},
    **NOTED,
    "kernel.hilbert.encode_rows_per_s": "1/s",
    "functions.udfs.encode_overhead_ratio": "ratio",
    "kernel.contains.edge_tests_per_s": "1/s",
    **SPARK_UNITS,
    "tracing.overhead_s": "s",
    "scaling_eff_1to4": "ratio",
}


def n_cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


# ================================================================= child
def start_session(scratch: str, cores: int, traced: bool):
    from s2geometry_spark.session import get_spark

    conf = {
        "spark.local.dir": f"{scratch}/spark-local",
        "spark.sql.warehouse.dir": f"{scratch}/warehouse",
        # the engine's default 8g heap is sized by G1 from measured pause
        # times, so its peak RSS swung by a third between runs of one input;
        # under a 2g cap the heap still grows with use, up to the cap
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true"
            f" -Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        os.makedirs(f"{scratch}/eventlog", exist_ok=True)
        conf["spark.eventLog.dir"] = f"file://{scratch}/eventlog"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def kernel_probes(seed: int) -> dict:
    """Direct NumPy kernel rates on fixed seeded batches (no Spark)."""
    import numpy as np

    from inputs import hotspot_micro_degrees, make_fractal_polygons
    from s2geometry_spark.kernel import cellid as K
    from s2geometry_spark.kernel.contains import contains_points
    from s2geometry_spark.kernel.coords import latlng_to_xyz

    rng = np.random.default_rng([seed, 9])
    lat, lng = hotspot_micro_degrees(rng, 1_000_000)
    lat, lng = lat / 1e6, lng / 1e6
    t_enc = []
    for _ in range(3):
        t0 = time.perf_counter()
        K.from_latlng(lat, lng)
        t_enc.append(time.perf_counter() - t0)
    (_, poly), = make_fractal_polygons(seed, 1, 192, 0.6)
    loop = poly.loops[0]
    pts = np.stack(latlng_to_xyz(lat[:20_000], lng[:20_000]), -1)
    t_pip = []
    for _ in range(3):
        t0 = time.perf_counter()
        contains_points(loop.vertices, loop.origin_inside, pts)
        t_pip.append(time.perf_counter() - t0)
    return {
        "kernel.hilbert.encode_rows_per_s": len(lat) / median(t_enc),
        "kernel.contains.edge_tests_per_s": len(pts) * len(loop.vertices) / median(t_pip),
    }


def layer_metrics(tr, wl, res: dict, log_dir: str, cores: int) -> tuple[dict, list]:
    """Per-pass layer metrics (medians over the timed passes) and the
    span table with parent links, self times and Spark counters."""
    from spans import parse_event_log, spark_counters

    groups = parse_event_log(log_dir)
    kids = tr.children()
    by_id = {s.span_id: s for s in tr.spans}
    passes = [s for s in tr.spans if s.name == "pass"]
    per_pass: dict[str, list[float]] = {}
    for p in passes:
        tree = tr.subtree(p, kids)
        for metric, span_name in LAYER_SPANS.items():
            per_pass.setdefault(metric, []).append(
                sum(tr.self_time(s, kids) for s in tree if s.name == span_name))
        stages = [st for s in tree for st in groups.get(s.span_id, [])]
        for k, v in spark_counters(stages, p.wall, cores).items():
            per_pass.setdefault(k, []).append(v)
    out = {k: median(v) for k, v in per_pass.items()}
    for k in NOTED:
        out[k] = median(wl.extra.get(k, []))
    out["session.start_s"] = res["start_s"]
    out["session.warmup_s"] = res["warmup_s"]
    out.update(kernel_probes(res["seed"]))
    encode_s = out["functions.udfs.cell_encode_s"]
    direct_s = wl.rows_per_pass / out["kernel.hilbert.encode_rows_per_s"] / cores
    out["functions.udfs.encode_overhead_ratio"] = encode_s / direct_s if encode_s else 0.0

    table = []
    for s in sorted(tr.spans, key=lambda s: s.start):
        st = [x for x in tr.subtree(s, kids) for x in groups.get(x.span_id, [])]
        c = spark_counters(st, s.wall, cores)
        table.append({
            "id": s.span_id, "name": s.name,
            "parent": s.parent, "parent_name": by_id[s.parent].name if s.parent else None,
            "start_s": s.start - T_PROC_START, "wall_s": s.wall,
            "self_s": tr.self_time(s, kids), "counts": s.counts,
            "spark": {k: c[k] for k in ("spark.stages", "spark.tasks", "spark.shuffle_write_mb",
                                        "spark.gc_s", "spark.core_busy_ratio")},
        })
    return out, table


def measure(args) -> dict:
    """One measurement in this (fresh) process; returns the raw results."""
    import gc

    cores = args.cores
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cores])
    sys.path.insert(0, ROOT)
    import pyspark.sql  # noqa: F401  (import cost belongs to set-up)

    import s2geometry_spark  # noqa: F401
    from procs import RssSampler
    from spans import Tracer
    from workloads import WORKLOADS

    scratch = args.scratch
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{scratch}/{d}", exist_ok=True)
    traced = bool(args.trace)
    tr = Tracer(traced)
    wl = WORKLOADS[args.workload](scratch, tr, corrupt=args.corrupt, small=args.small)

    t0 = time.perf_counter()
    info = wl.generate(args.seed)
    gen_s = time.perf_counter() - t0
    gc.collect()

    attempted = failed = 0
    pass_s: list[float] = []    # untraced passes
    traced_s: list[float] = []  # traced passes (traced runs alternate)
    # the daemon that forks the workers, plus one worker per core
    with RssSampler(max_workers=cores + 1) as rss:
        spark = start_session(scratch, cores, traced)
        tr.sc = spark.sparkContext
        start_s = time.perf_counter() - T_PROC_START - gen_s
        try:
            t1 = time.perf_counter()
            wl.prepare(spark)
            prepare_s = time.perf_counter() - t1
            if wl.warm_up:
                with tr.span("session.warmup"):
                    wl.run_pass(spark)
            wl.extra.clear()
            warmup_s = time.perf_counter() - t1  # prepare + warm-up pass
            setup_s = time.perf_counter() - T_PROC_START - gen_s
            if traced and not wl.warm_up:
                # so that the untraced and the traced passes below are
                # equally warm; not timed, not part of setup_s
                attempted += 1
                with tr.span("untimed.warmup"):
                    out = wl.run_pass(spark)
                failed += not wl.check(out)
                wl.extra.clear()
            deadline = time.perf_counter() + args.seconds
            while time.perf_counter() < deadline or (
                    traced and not (pass_s and traced_s) and attempted < 6):
                # a traced run alternates untraced and traced passes, so
                # the tracing overhead is measured in one process
                tr.enabled = traced and (len(pass_s) + len(traced_s)) % 2 == 1
                attempted += 1
                t2 = time.perf_counter()
                try:
                    with tr.span("pass"):
                        out = wl.run_pass(spark)
                    (traced_s if tr.enabled else pass_s).append(time.perf_counter() - t2)
                    failed += not wl.check(out)
                except Exception:  # counted, reported, run goes on
                    failed += 1
                    traceback.print_exc()
            tr.enabled = traced
        finally:
            spark.stop()  # flushes the event log; the parent kills the rest
    res = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "gen_s": gen_s, "start_s": start_s, "prepare_s": prepare_s, "warmup_s": warmup_s,
        "setup_s": setup_s,
        "pass_s": pass_s, "traced_pass_s": traced_s,
        "rows_per_pass": wl.rows_per_pass, "row_unit": wl.row_unit,
        "peak_rss_mb": rss.peak_mb, "attempted": attempted, "failed": failed,
        "extra": {k: median(v) for k, v in wl.extra.items()}, **info,
    }
    if traced:
        res["layers"], res["spans"] = layer_metrics(
            tr, wl, res, f"{scratch}/eventlog", cores)
        res["layers"]["tracing.overhead_s"] = median(traced_s) - median(pass_s)
    return res


# ================================================================ parent
def run_child(args, scratch: str, cores: int, trace: int, seconds: float) -> dict:
    from procs import kill_group

    cmd = [sys.executable, os.path.abspath(__file__), "--child",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores), "--scratch", scratch]
    cmd += ["--corrupt"] * args.corrupt + ["--small"] * args.small
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(f"{scratch}/tmp", exist_ok=True)
    env = dict(os.environ, TMPDIR=f"{scratch}/tmp", PYTHONDONTWRITEBYTECODE="1")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=ROOT,
                            start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(
            timeout=max(1.0, RUN_TIMEOUT_S - (time.perf_counter() - T_PROC_START)))
    except subprocess.TimeoutExpired:
        kill_group(proc.pid)
        proc.communicate()
        raise SystemExit(f"{args.workload}: run exceeded {RUN_TIMEOUT_S}s")
    finally:
        kill_group(proc.pid)  # anything left in the child's session (JVM, python workers)
        shutil.rmtree(scratch, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{args.workload}: measurement failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def end_to_end(r: dict) -> dict:
    if not r["pass_s"]:
        raise SystemExit(f"{r['workload']}: no timed pass completed")
    return {
        "setup_s": r["setup_s"],
        "rows_per_s": r["rows_per_pass"] * len(r["pass_s"]) / sum(r["pass_s"]),
        "pass_s_p50": median(r["pass_s"]),
        "peak_rss_mb": r["peak_rss_mb"],
    }


def report(r: dict) -> None:
    """Human-readable lines before the result line."""
    q1, q3 = quartiles(r["pass_s"])
    print(f"workload {r['workload']} seed {r['seed']} on local[{r['cores']}]: "
          f"{r['rows_per_pass']} {r['row_unit']} per pass, input {r['input_bytes']} bytes")
    print(f"  input generation + oracles   {r['gen_s']:.3f} s (not in setup_s)")
    print(f"  setup_s                      {r['setup_s']:.3f} s "
          f"(session {r['start_s']:.3f} s, prepare {r['prepare_s']:.3f} s, "
          f"warm-up pass {r['warmup_s'] - r['prepare_s']:.3f} s)")
    print(f"  pass_s_p50                   {median(r['pass_s']):.3f} s "
          f"[q1 {q1:.3f}, q3 {q3:.3f}, n={len(r['pass_s'])}]")
    e2e = end_to_end(r)
    print(f"  rows_per_s                   {e2e['rows_per_s']:.1f} 1/s")
    print(f"  peak_rss_mb                  {r['peak_rss_mb']:.1f} MB")
    print(f"  error_rate                   {r['failed'] / r['attempted']:.4f} ratio "
          f"({r['failed']} of {r['attempted']})")
    for k, v in sorted(r["extra"].items()):
        print(f"  {k:<28} {v:.6g} {NOTED.get(k, '')}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one row of every pass output (self-test)")
    ap.add_argument("--small", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--cores", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--scratch", default="", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    if args.child:
        print(json.dumps(measure(args)))
        return 0

    from workloads import WORKLOADS  # fails outside a checkout of the engine

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    # a terminated run still reaches run_child's cleanup of its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch_root = os.path.join(WORK, "scratch")
    shutil.rmtree(scratch_root, ignore_errors=True)
    scratch = os.path.join(scratch_root, f"{args.workload}-{os.getpid()}")
    cores = n_cores()
    try:
        res = run_child(args, scratch, cores, args.trace, args.seconds)
        report(res)
        attempted, failed = res["attempted"], res["failed"]
        if not args.trace:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in end_to_end(res).items()}
        else:
            layers = res["layers"]
            layers["scaling_eff_1to4"] = 0.0
            if args.workload == "pip_hotspot":
                # two untraced measurements of the same input, n cores and 1
                rate = {}
                for c in (cores, 1):
                    r = run_child(args, scratch, c, 0, min(args.seconds, SCALING_SECONDS))
                    attempted += r["attempted"]
                    failed += r["failed"]
                    rate[c] = end_to_end(r)["rows_per_s"]
                layers["scaling_eff_1to4"] = rate[cores] / (cores * rate[1])
                print(f"  scaling: {rate[cores]:.1f} rows/s on {cores} cores, "
                      f"{rate[1]:.1f} on 1 core, efficiency 1->{cores} "
                      f"{layers['scaling_eff_1to4']:.3f}")
            print_spans(res)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(res, fh, indent=1)
            print(f"  spans written to {os.path.relpath(path, ROOT)}")
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    finally:
        shutil.rmtree(scratch_root, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def print_spans(traced: dict) -> None:
    """Span table of the traced run: one line per distinct (name, parent
    name), median wall and self time over its occurrences."""
    rows: dict[tuple, list] = {}
    for s in traced["spans"]:
        rows.setdefault((s["name"], s["parent_name"]), []).append(s)
    print(f"  {'span':<34} {'parent':<18} {'n':>3} {'wall_s':>8} {'self_s':>8} "
          f"{'stages':>6} {'tasks':>6} {'busy':>5}")
    for (name, parent), ss in rows.items():
        print(f"  {name:<34} {str(parent):<18} {len(ss):>3} "
              f"{median([s['wall_s'] for s in ss]):8.3f} {median([s['self_s'] for s in ss]):8.3f} "
              f"{median([s['spark']['spark.stages'] for s in ss]):6.0f} "
              f"{median([s['spark']['spark.tasks'] for s in ss]):6.0f} "
              f"{median([s['spark']['spark.core_busy_ratio'] for s in ss]):5.2f}")
    lay = traced["layers"]
    print(f"  traced pass_s_p50 {median(traced['traced_pass_s']):.3f} s "
          f"(n={len(traced['traced_pass_s'])}); tracing overhead "
          f"(traced - untraced pass_s_p50) {lay['tracing.overhead_s']:.3f} s")


if __name__ == "__main__":
    sys.exit(main())
