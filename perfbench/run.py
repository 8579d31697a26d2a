#!/usr/bin/env python3
"""GeoSPARQL ETL benchmark: one seeded workload, timed end to end or
layer by layer.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 16 --trace 0

Run from the repository root. Workloads (closed loop, one client, on
``local[<cores>]``; ``--seconds`` sets a fixed number of cycles over
the workload's operations, one per nominal cycle time, at least
MIN_CYCLES; set-up ends with the workload's untimed warm cycles):

  etl_ingest       json_etl, segmentation_etl and mongo_etl over freshly
                   generated inputs, the slide-hash rewrite of the mongo
                   output, and the Turtle -> parquet triple load.
  geosparql_query  a seed-shuffled mix of four GeoSPARQL query kinds over
                   the Turtle those pipelines write, loaded once into a
                   cached triple store during set-up.

Inputs come from ``gen.py`` and the seed only; every output is checked
outside the timed region. The last stdout line is one JSON object
(correct / attempted / failed / metrics): end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
carries the details (per-operation medians, sample counts, failures,
the launcher environment). All scratch lives under ``.perfbench/`` in
the current directory and is removed on exit, except the span files of
traced runs (``.perfbench/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path.cwd()
WORKLOADS = ("etl_ingest", "geosparql_query")
MIN_CYCLES = 3  # every operation is sampled at least this often untraced
TRACED_CYCLES = 1  # a traced run samples each operation once, both ways

END_TO_END = ("setup_s", "pass_s")
# engine modules that spans are named after
LAYERS = ("sources", "functions", "operators", "pipelines", "sinks", "sparql")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on either workload
    (a layer the workload does not touch reads 0)."""
    from perfbench.queries import KINDS
    from perfbench.workloads import EtlIngest

    etl_ops = EtlIngest.op_names
    names = []
    for src in ("geojson", "segmentation", "mongo"):
        names.append(f"sources.{src}.scan_s")
    names += ["sources.turtle.parse_s", "sinks.parquet.write_s"]
    names += [f"functions.geometry.{f}_s" for f in EtlIngest.geometry_functions]
    names += ["operators.render.ordered_concat_s", "operators.batching.with_batch_id_s"]
    for p in ("json_etl", "segmentation_etl", "mongo_etl"):
        names += [f"pipelines.{p}.build_s", f"pipelines.{p}.render_s"]
    names.append("pipelines.hash_update.rewrite_s")
    names += [f"sinks.ttl.{k}" for k in ("write_s", "bytes", "bytes_per_row")]
    for kind in KINDS:
        names += [f"sparql.{kind}.{k}" for k in ("parse_s", "compile_s", "plan_s", "execute_s")]
    for wl in WORKLOADS:
        names += [f"spark.{wl}.{k}" for k in ("jobs", "stages", "tasks", "failed_tasks")]
    for op in (*etl_ops, *KINDS):
        names.append(f"{op}.p50_s")
    for op in (*etl_ops, "store_load", *KINDS):
        names.append(f"{op}.cold_s")
    names += [f"layer.{m}.self_s" for m in LAYERS]
    names += ["trace.overhead_pass_s", "trace.overhead_pass_cpu_s", "process.pass_cpu_s",
              "process.peak_rss_mb", "etl.rows_per_s"]
    return names


def per_layer_unit(name: str) -> str:
    for suffix, unit in (("rows_per_s", "rows/s"), ("_s", "s"), ("bytes_per_row", "B/row"),
                         ("bytes", "B"), ("_mb", "MiB")):
        if name.endswith(suffix):
            return unit
    return "count"


def launcher_env(work: Path) -> dict[str, str]:
    """Environment the engine needs when launched from any directory:
    the repository on PYTHONPATH for Python workers, one Spark core per
    CPU, Spark and temp files under the benchmark's scratch, and a
    driver heap well below physical memory."""
    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(phys_gib // 4)))}g",
        "TMPDIR": str(work / "tmp"),
    }
    for k in ("spark-local", "tmp"):
        (work / k).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    return env


def tail_percentile(values: list[float]) -> tuple[float | None, int | None]:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n <= 10:
        return None, None
    p = (100 * (n - 10)) // n
    idx = max(0, -(-p * n // 100) - 1)
    return sorted(values)[idx], p


def stop_engine(spark) -> None:
    """Stop Spark, its JVM and every Python worker, and wait for each."""
    from pyspark import SparkContext

    from perfbench.spans import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in kids:
        while True:
            try:
                os.kill(pid, 0)
            except OSError:
                break
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline += 5
            time.sleep(0.05)


def measure(ops, cycles, trace, tracer, acct, rss, work: Path):
    """Closed loop, one client: ``cycles`` complete cycles over ``ops``.
    The count is fixed before timing starts, so a fast or slow spell
    of the machine never changes how many samples an operation's best
    and median are taken over. Every sample writes to a fresh
    directory that is checked, then deleted. A traced run also repeats
    each operation with spans, alternating which of the two goes first
    so neither side always gets the warmer caches."""
    from perfbench.spans import steal_s, tree_cpu_s

    samples: dict[str, list[float]] = defaultdict(list)
    cpu: dict[str, list[float]] = defaultdict(list)
    steal: dict[str, list[float]] = defaultdict(list)
    traced: dict[str, list[dict]] = defaultdict(list)
    failures: list[str] = []
    per_sample: dict[str, int] = defaultdict(int)
    n = 0

    def untraced(op, out):
        group = acct.begin(op.name)
        try:
            c0, s0 = tree_cpu_s(), steal_s()
            t0 = time.perf_counter()
            result = op.run(out)
            dt = time.perf_counter() - t0
            cpu[op.name].append(tree_cpu_s() - c0)
            steal[op.name].append(steal_s() - s0)
            op.check(out, result)
            samples[op.name].append(dt)
        finally:
            for k, v in acct.collect(group).items():
                per_sample[k] += v

    def with_spans(op, out):
        tracer.op_id += 1
        group = acct.begin(f"{op.name}:traced")
        try:
            with tracer.span(f"op.{op.name}"):
                traced[op.name].append(op.traced(out))
        finally:
            acct.collect(group)

    for _ in range(cycles):
        for op in ops:
            steps = [untraced, with_spans] if trace else [untraced]
            if (n // len(steps)) % 2:
                steps.reverse()
            for step in steps:
                out = str(work / "samples" / op.name)
                n += 1
                try:
                    step(op, out)
                except Exception as e:  # a failed operation is recorded, the run goes on
                    failures.append(f"{op.name}: {type(e).__name__}: {e}"[:400])
                finally:
                    rss.sample()
                    shutil.rmtree(out, ignore_errors=True)
    return samples, cpu, steal, traced, failures, n, dict(per_sample)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "geosparql_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no geosparql_etl_spark package under {ROOT}; "
              "run from the repository root", file=sys.stderr)
        return 2

    from perfbench.spans import steal_s

    t_start, steal0 = time.perf_counter(), steal_s()
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = launcher_env(work)
    from perfbench import gen, workloads
    from perfbench.spans import RssPeak, SparkAccounting, Tracer

    # set-up 1: inputs (the self-tests check the generator is
    # byte-deterministic per seed)
    size = gen.EtlSize() if args.workload == "etl_ingest" else gen.QUERY_SIZE
    t0 = time.perf_counter()
    inp = gen.generate_etl(str(work / "in"), args.seed, size)
    gen_s = time.perf_counter() - t0
    failures: list[str] = []

    # set-up 2: session, then one cold call of every operation
    from geosparql_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    tracer = Tracer(bool(args.trace))
    rss = RssPeak()
    acct = SparkAccounting(spark.sparkContext, f"perfbench:{args.workload}")
    ref = str(work / "reference")
    if args.workload == "etl_ingest":
        wl = workloads.EtlIngest(spark, inp, ref)
    else:
        wl = workloads.GeosparqlQuery(spark, inp, ref, args.seed)

    attempted, cold = 1, {}
    samples, cpu, steal, traced, per_sample = {}, {}, {}, {}, {}
    warm_group = acct.begin("warm-up")
    try:
        cold = wl.warm()
        setup_ok = True
    except Exception as e:
        failures.append(f"set-up: {type(e).__name__}: {e}"[:400])
        setup_ok = False
    acct.collect(warm_group)
    ops = []
    if setup_ok:
        ops = wl.ops(tracer)
        random.Random(args.seed).shuffle(ops)
        # untimed, checked warm cycles; their samples are dropped
        *_, fails, n, _ = measure(ops, wl.warm_cycles, False, tracer, acct, rss, work)
        failures += fails
        attempted += n
    rss.sample()
    setup_s, steal_setup = time.perf_counter() - t_start, steal_s()

    # a fixed number of cycles, derived from --seconds and the
    # workload's nominal cycle time, never from the clock while timing
    cycles = TRACED_CYCLES if args.trace else max(
        MIN_CYCLES, round(args.seconds / wl.nominal_cycle_s))
    if setup_ok:
        samples, cpu, steal, traced, fails, n, per_sample = measure(
            ops, cycles, bool(args.trace), tracer, acct, rss, work)
        failures += fails
        attempted += n
    steal_end = steal_s()

    failed_tasks = acct.totals["failed_tasks"]
    failed = len(failures) + failed_tasks
    med = {k: statistics.median(v) for k, v in samples.items()}
    cpu_med = {k: statistics.median(v) for k, v in cpu.items()}
    # pass_s adds up each operation's samples as the workload's
    # pass_stat says (best or median, see workloads.py); every sample,
    # the best and the median are in the details line
    best = {k: min(v) for k, v in samples.items()}
    typical = best if wl.pass_stat == "best" else med
    every = [t for v in samples.values() for t in v]
    metrics: dict[str, float] = {}
    if every and set(typical) == set(wl.op_names):
        metrics = {"setup_s": setup_s, "pass_s": sum(typical.values())}
    tail, tail_pct = tail_percentile(every)

    layer = {}
    if args.trace:
        layer = {n: 0.0 for n in per_layer_names()}
        if traced:
            layer.update(wl.layer_metrics(traced, statistics.median))
        for op, s in cold.items():
            layer[f"{op}.cold_s"] = s
        for op, s in med.items():
            layer[f"{op}.p50_s"] = s
        layer["process.pass_cpu_s"] = sum(cpu_med.values())
        if args.workload == "etl_ingest" and best:
            layer["etl.rows_per_s"] = inp.records / sum(best.values())
        n_samples = max(1, len(every))
        for k, v in per_sample.items():
            layer[f"spark.{wl.name}.{k}"] = v / n_samples if k != "failed_tasks" else float(v)
        for module, s in tracer.self_times().items():
            if f"layer.{module}.self_s" in layer:
                layer[f"layer.{module}.self_s"] = s / max(1, cycles)
        if med and traced:
            for key, base in (("op_s", med), ("cpu_s", cpu_med)):
                t = sum(statistics.median([d[key] for d in v]) for v in traced.values())
                name = "pass_s" if key == "op_s" else "pass_cpu_s"
                layer[f"trace.overhead_{name}"] = t - sum(base.values())
        layer["process.peak_rss_mb"] = rss.mib
        tracer.write(str(ROOT / ".perfbench" / "traces" / f"{args.workload}-{args.seed}.json"))

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cycles": cycles,
        "samples": {k: len(v) for k, v in samples.items()},
        "op_best_s": {f"{k}_s": v for k, v in best.items()},
        "op_median_s": {f"{k}_s": v for k, v in med.items()},
        "op_samples_s": {k: [round(t, 4) for t in v] for k, v in samples.items()},
        "op_cpu_s": {k: [round(t, 3) for t in v] for k, v in cpu.items()},
        "op_steal_s": {k: [round(t, 3) for t in v] for k, v in steal.items()},
        "op_p50_s": statistics.median(every) if every else None,
        "pass_cpu_s": sum(cpu_med.values()),
        "cold_s": cold,
        "tail_s": tail,
        "tail_percentile": tail_pct,
        "n_samples": len(every),
        "ops_per_s": len(every) / sum(every) if every else None,
        "peak_rss_mb": rss.mib,
        "session_s": session_s,
        # CPU time the hypervisor took, in set-up and while sampling
        "steal_s": [steal_setup - steal0, steal_end - steal_setup],
        "gen_s": gen_s,
        "input_records": inp.records,
        "failed_op_ratio": failed / attempted,
        "failed_tasks": failed_tasks,
        "failures": failures[:20],
        "env": env,
    }
    if args.workload == "etl_ingest" and best:
        details["etl_rows_per_s"] = inp.records / sum(best.values())

    stop_engine(spark)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"perfbench": details}))
    if args.trace:
        out = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layer.items()}
    else:
        out = {k: {"value": v, "unit": "s"} for k, v in metrics.items()}
    print(json.dumps({
        "correct": failed == 0 and bool(out),
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    # run as a script: import the benchmark as a package from the
    # repository root, never its modules by bare name
    sys.path[0] = str(Path(__file__).resolve().parent.parent)
    sys.exit(main())
