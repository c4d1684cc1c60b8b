"""Run one workload of the benchmark and print its metrics.

    python3 layerbench/run.py --workload tpch_owl --seed 0 --seconds 5 --trace 0

Run from the root of a checkout of this repository. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones. The line before it
("layerbench-record ...") is the run record: seed, /proc/stat steal seconds,
error rate, every timing and the gate results. Everything the run writes
goes under .layerbench/ in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
PREPARE_REPEATS = 3


def steal_seconds() -> float:
    with open("/proc/stat", encoding="utf-8") as fh:
        return int(fh.readline().split()[8]) / 100.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when its
    standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tpch_owl", "code_kg", "kg_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", default="bench", choices=["bench", "tiny", "ref"])
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "arachne_spark", "__init__.py")):
        sys.exit(f"layerbench: no arachne_spark package under {ROOT}; run from a checkout")
    sys.path[:0] = [ROOT, HERE]
    # the package reads SPARK_GRAFT_* knobs (master, partitions, codecs, join
    # preference); the benchmark pins its own configuration instead
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    work = os.path.join(ROOT, ".layerbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("layerbench-record " + json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, work: str) -> tuple[dict, dict]:
    steal0 = steal_seconds()
    t0 = time.perf_counter()
    from arachne_spark.session import build_session

    from spans import Tracer, event_log_conf, fold_event_log
    from workloads import WORKLOADS

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    log_dir = os.path.join(work, "events")
    if args.trace:
        extra.update(event_log_conf(log_dir))
    spark = build_session("layerbench", cores=CORES, shuffle_partitions=CORES, extra=extra)
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        tracer = Tracer(spark, args.workload, bool(args.trace))
        w = WORKLOADS[args.workload](spark, tracer, work, args.size, args.seed, session_s)
        prepare_s = []
        for _ in range(PREPARE_REPEATS):
            t = time.perf_counter()
            w.prepare()
            prepare_s.append(time.perf_counter() - t)
        w.build_model()
        t = time.perf_counter()
        w.warm()
        warm_s = time.perf_counter() - t

        tracer.phase = "run"
        t = time.perf_counter()
        w.run(args.seconds)
        run_s = time.perf_counter() - t
        tracer.phase = "check"
        if w.last is not None:
            w.gate()
        terms = None
        if args.trace and w.last is not None and w.last.term_dict is not None:
            terms = w.last.term_dict.count()
        peak_rss_mb = vm_hwm_mb(jvm_pid)
    finally:
        spark.stop()
        stop_jvm()
    steal_s = steal_seconds() - steal0
    layers = fold_event_log(log_dir, args.workload) if args.trace else {}

    c = w.client
    setup_s = session_s + statistics.median(prepare_s) + warm_s
    # a breached latency limit is a failed operation, not a wrong output
    correct = c.wrong == 0 and bool(w.gates) and all(w.gates.values())
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "steal_s": round(steal_s, 2),
        "error_rate": c.failed / max(c.attempted, 1),
        "session_s": session_s,
        "prepare_s": prepare_s,
        "warm_s": warm_s,
        "run_s": run_s,
        "peak_rss_mb": peak_rss_mb,
        "jvm_pid": jvm_pid,
        "walls_s": w.walls,
        "query_ms": c.query_ms,
        "gates": w.gates,
        "errors": c.errors,
        **w.record,
    }
    if args.trace:
        metrics = per_layer(w, tracer, layers, session_s, peak_rss_mb, terms)
    else:
        metrics = end_to_end(w, setup_s)
    result = {
        "correct": correct,
        "attempted": c.attempted,
        "failed": c.failed,
        "metrics": metrics,
    }
    return record, result


def _m(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    """90th percentile, interpolated between the two nearest samples."""
    if len(xs) < 2:
        return _median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(w, setup_s: float) -> dict:
    c = w.client
    kinds = [xs for xs in c.query_ms.values() if xs]
    pooled = [x for xs in kinds for x in xs]
    wall = _median(w.walls)
    facts = w.last.facts_count if w.last is not None else 0
    return {
        "setup_s": _m(setup_s, "s"),
        "facts_per_s": _m(facts / wall if wall else 0.0, "facts/s"),
        "update_p50_s": _m(wall, "s"),
        # each kind's median, averaged over the kinds: the kinds' latencies
        # differ, and a pooled median of a few dozen samples jumps across the
        # gap between the two faster kinds and the two slower ones
        "query_p50_ms": _m(statistics.mean(_median(xs) for xs in kinds) if kinds else 0.0, "ms"),
        "query_p90_ms": _m(p90(pooled), "ms"),
        "success_rate": _m(1.0 - c.failed / max(c.attempted, 1), "ratio"),
    }


def per_layer(w, tracer, layers: dict, session_s: float, peak_rss_mb: float, terms) -> dict:
    from spans import task_skew, total
    from workloads import QUERY_KINDS, KgServe

    serve = isinstance(w, KgServe)
    n_ops = max(len(w.walls), 1)
    n_q = max(sum(len(tracer.durations("facade", k)) for k in QUERY_KINDS), 1)
    # kg_serve materializes once, in set-up; the batch workloads per iteration
    mat_phase, n_mat = ("setup", 1) if serve else ("run", n_ops)
    mats = [w.base.metrics] if serve else w.round_metrics
    eng = total(layers, mat_phase, "engine", "materialize")
    upd = total(layers, "run", "engine", "incremental")
    kg = total(layers, "run", "kg")
    fac = total(layers, "run", "facade")
    scan = total(layers, "run")

    def per_mat(fn) -> float:
        return _median([fn(ms) for ms in mats])

    def rounds(ms) -> range:
        return range(1, max(m.round for m in ms) + 1)

    delta_out = sum(m.delta_out for ms in mats for m in ms if m.round > 0)
    out = {
        "session.start_s": _m(session_s, "s"),
        "session.peak_rss_mb": _m(peak_rss_mb, "MB"),
        "sources.scan_records": _m(scan["scan_records"] / n_ops, "count"),
        "sources.scan_bytes": _m(scan["scan_bytes"] / n_ops, "B"),
        "sources.export_s": _m(_median(tracer.durations("sources", "write_ntriples")), "s"),
        "sources.export_records": _m(w.record.get("export_records", 0), "count"),
        "kg.build_s": _m(_median(tracer.durations("kg", "build_triples")), "s"),
        "kg.triples_out": _m(w.record.get("kg_triples_out", 0), "count"),
        "kg.jobs": _m(kg["jobs"] / n_ops, "count"),
        "kg.tasks": _m(kg["tasks"] / n_ops, "count"),
        "kg.shuffle_write_bytes": _m(kg["shuffle_write_bytes"] / n_ops, "B"),
        "kg.spill_bytes": _m(kg["spill_bytes"] / n_ops, "B"),
        "kg.task_skew": _m(task_skew(kg["task_ms"]), "ratio"),
        "dictionary.build_s": _m(per_mat(lambda ms: phase_sum(ms, [0], "dict_build")), "s"),
        "dictionary.encode_s": _m(per_mat(lambda ms: phase_sum(ms, [0], "encode")), "s"),
        "dictionary.terms": _m(terms or 0, "count"),
        "engine.materialize_s": _m(
            _median(tracer.durations("engine", "materialize", mat_phase)), "s"
        ),
        "engine.stage0_s": _m(
            per_mat(lambda ms: phase_sum(ms, [0], "stage0_distinct", "input_count")), "s"
        ),
        "engine.rounds": _m(per_mat(lambda ms: len(rounds(ms))), "count"),
        "engine.round_s": _m(
            per_mat(lambda ms: sum(m.seconds for m in ms if m.round in rounds(ms)[:-1])), "s"
        ),
        "engine.confirm_round_s": _m(per_mat(lambda ms: ms[-1].seconds), "s"),
        "engine.compile_s": _m(per_mat(lambda ms: phase_sum(ms, rounds(ms), "compile")), "s"),
        "engine.derive_s": _m(
            per_mat(lambda ms: phase_sum(ms, rounds(ms), "derive_distinct", "probe")), "s"
        ),
        "engine.dedup_s": _m(
            per_mat(lambda ms: phase_sum(ms, rounds(ms), "dedup_probe", "dedup_anti")), "s"
        ),
        "engine.stats_s": _m(
            per_mat(
                lambda ms: phase_sum(ms, [0], "stats0")
                + phase_sum(ms, rounds(ms), "stats", "pred_values")
            ),
            "s",
        ),
        "engine.jobs": _m(eng["jobs"] / n_mat, "count"),
        "engine.tasks": _m(eng["tasks"] / n_mat, "count"),
        "engine.shuffle_read_bytes": _m(eng["shuffle_read_bytes"] / n_mat, "B"),
        "engine.shuffle_write_bytes": _m(eng["shuffle_write_bytes"] / n_mat, "B"),
        "engine.spill_bytes": _m(eng["spill_bytes"] / n_mat, "B"),
        "engine.task_skew": _m(task_skew(eng["task_ms"]), "ratio"),
        "engine.variants_skipped": _m(
            per_mat(lambda ms: sum(m.variants_skipped for m in ms)), "count"
        ),
        "engine.new_facts_per_shuffle_record": _m(
            delta_out / eng["shuffle_write_records"] if eng["shuffle_write_records"] else 0.0,
            "ratio",
        ),
        "engine.update_s": _m(_median(w.walls) if serve else 0.0, "s"),
        "engine.update_rounds": _m(
            _median([len(ms) - 1 for ms in w.round_metrics]) if serve else 0, "count"
        ),
        "engine.update_jobs": _m(upd["jobs"] / n_ops if serve else 0, "count"),
        "engine.asserted_plan_lines": _m(max(w.record.get("plan_lines") or [0]), "lines"),
        "facade.jobs_per_query": _m(fac["jobs"] / n_q, "count"),
        "facade.tasks_per_query": _m(fac["tasks"] / n_q, "count"),
        "trace.iteration_s": _m(_median(w.walls), "s"),
        "trace.span_coverage": _m(span_coverage(w, tracer), "ratio"),
    }
    for kind, xs in w.client.query_ms.items():
        out[f"facade.{kind}_ms"] = _m(_median(xs), "ms")
    return out


def phase_sum(metrics, rounds, *names: str) -> float:
    """Seconds of the named ``RoundMetrics.phases`` over the given rounds."""
    return sum(m.phases.get(n, 0.0) for m in metrics if m.round in rounds for n in names)


def span_coverage(w, tracer) -> float:
    """Median over timed iterations of (layer spans inside it) / its wall."""
    shares = []
    for t0, t1 in w.bounds:
        inside = sum(
            e - s
            for lay, _, s, e, ph in tracer.spans
            if ph == "run" and lay != "facade" and s >= t0 and e <= t1
        )
        shares.append(inside / (t1 - t0))
    return _median(shares)


if __name__ == "__main__":
    sys.exit(main())
