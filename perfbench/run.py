#!/usr/bin/env python3
"""Crawl-engine benchmark: round latency, frontier throughput and payload
ingest, checked against the pure-Python simulator.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One driver process runs
``crawler_spark.plans.engine.CrawlEngine`` at ``local[<all cores>]`` with the
engine's defaults, as a closed loop: each op (one crawl round or one export
call) starts when the previous one has finished.

``--trace 0`` starts the session (launching the JVM) and builds engine A,
then measures *cycles*, at least one, and another while it is expected to
end within ``--seconds`` of the set-up's start.  In a cycle engine A crawls
``interrupt_after`` rounds and is dropped, engine B resumes from the
checkpoint to the workload's last round, and, where the workload has
exports, B exports the crawl as WebDataset shards and as WARC files.

``--trace 1`` runs engine A once, copies its checkpoint, and resumes it three
times: untraced, traced (then the exports, traced), and untraced again at
``local[1]`` in a new SparkContext.  It prints the per-layer metrics of the
traced resume.

Every crawl is compared with the simulator golden; an op that raises, does
not commit or differs fails, and any failure makes the command exit 1.
Human-readable lines come first; the last stdout line is one JSON object.
Runtime files (fixture and golden cache, checkpoints, exports, spans,
per-run results) go to ``.perfbench_work/`` under the repository root.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = os.cpu_count() or 1


def metric_units(trace: int) -> dict:
    """{metric: unit} for the mode, from BENCHMARK.json (the metric list)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------- session

def start_session(cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        # one shuffle partition per core: a round runs ~20 small jobs, and
        # every extra partition adds a task to each of their shuffle stages
        .config("spark.sql.shuffle.partitions", str(cores))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active SparkContext and the JVM it runs in, and wait for the
    JVM to exit.  Safe to call when none is running."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def new_engine(spark, w, fix_dir: str, ckpt: str, **cfg_override):
    """Construct an engine and cache its page table (and, with payload
    ingest on, its payload index) — the engine's set-up."""
    from crawler_spark.plans.engine import CrawlEngine

    from perfbench.workloads import crawl_config

    eng = CrawlEngine(spark, fix_dir, ckpt, crawl_config(w, **cfg_override),
                      ingest_payloads=w.ingest_payloads)
    eng.pages.count()
    if w.ingest_payloads:
        eng.images_index.count()
    return eng


# -------------------------------------------------------------------- ops

class Ledger:
    """Ops attempted and failed.  An op is planned before it runs, so an op
    cut short by an exception counts as failed."""

    def __init__(self):
        self.planned = 0
        self.passed = 0

    def plan(self, n: int) -> None:
        self.planned += n

    def settle(self, n_ok: int) -> None:
        self.passed += n_ok

    @property
    def failed(self) -> int:
        return self.planned - self.passed


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(path) for f in fs)


def crawl(eng, w, resume: bool = False, tracer=None) -> dict:
    """Run engine A (fresh, rounds < interrupt_after) or engine B (resume to
    the last round)."""
    from crawler_spark.sources import snapshots as snap

    if tracer is not None:
        tracer.install()
    try:
        t0 = time.time()
        summary = eng.run(resume=resume)
        if tracer is not None:
            tracer.task_counts()
    finally:
        if tracer is not None:
            tracer.uninstall()
    out = {"summary": summary,
           "rounds": [(r["round"], r["selected"], r["wall_s"])
                      for r in summary["rounds_detail"]]}
    if resume:
        first = os.path.join(eng.ckpt_dir, f"round={w.interrupt_after:05d}", snap.MANIFEST)
        out["resume_s"] = os.stat(first).st_mtime - t0
    return out


def check(eng, w, golden: dict, summary: dict, ledger: Ledger, lo: int) -> None:
    """Compare rounds >= lo of a finished crawl (engine B's view of the
    checkpoint) with the golden and settle them; the ops were planned
    before the crawl ran."""
    from perfbench.check import failed_rounds, payload_ok

    last = golden["rounds"] - 1
    bad = {r for r in failed_rounds(eng, golden, last) if r >= lo}
    if w.ingest_payloads and not payload_ok(summary, golden):
        bad.add(last)
    ledger.settle(last - lo + 1 - len(bad))


def run_exports(eng, golden: dict, tag: str, ledger: Ledger, tracer=None) -> dict:
    from contextlib import nullcontext

    res = {}
    for kind, fn, count_key, golden_key in (
        ("webdataset", eng.export_webdataset, "n_samples", "wds_samples"),
        ("warc", eng.export_warc, "n_records", "warc_records"),
    ):
        ledger.plan(1)
        d = os.path.join(WORK, "exports", f"{tag}-{kind}")
        shutil.rmtree(d, ignore_errors=True)
        with tracer.span(f"{kind}.export") if tracer is not None else nullcontext():
            t0 = time.perf_counter()
            manifest = fn(d)
            res[f"{kind}_s"] = time.perf_counter() - t0
        n = res[f"{kind}_n"] = manifest[count_key]
        res[f"{kind}_bytes"] = _tree_bytes(d)
        shutil.rmtree(d, ignore_errors=True)
        if n == golden[golden_key]:
            ledger.settle(1)
        else:
            print(f"{kind} export wrote {n} items, golden has {golden[golden_key]}",
                  file=sys.stderr)
    return res


def steady(rounds) -> list[tuple[int, float]]:
    """(selected, wall_s) of the rounds >= 1: round 0 pays seed intake and
    first-use costs and is reported on its own."""
    return [(sel, wall) for rnd, sel, wall in rounds if rnd >= 1]


def throughput(rounds) -> float:
    return sum(s for s, _ in rounds) / sum(t for _, t in rounds)


# ------------------------------------------------------------------ modes

def run_timed(args, w, fix_dir: str, golden: dict, ledger: Ledger) -> tuple[dict, dict]:
    from crawler_spark.calibration import cpu_probe

    from perfbench.procstat import PeakPss

    k, rounds_n = w.interrupt_after, golden["rounds"]
    probe_before = cpu_probe()
    ckpt = os.path.join(WORK, "ckpt", "cycle0")
    shutil.rmtree(ckpt, ignore_errors=True)
    # set-up as a caller meets it: JVM launch, session, engine A built and
    # its tables cached; one sample, since each costs a fifth of the run.
    # --seconds counts from here.
    t0 = time.perf_counter()
    spark = start_session(CORES)
    eng_a = new_engine(spark, w, fix_dir, ckpt, max_rounds=k)
    setup_s = time.perf_counter() - t0
    cycles = []
    with PeakPss(jvm_pid(spark)) as mem:
        while True:
            c0 = time.perf_counter()
            ledger.plan(rounds_n)
            a = crawl(eng_a, w)
            eng_b = new_engine(spark, w, fix_dir, ckpt)
            b = crawl(eng_b, w, resume=True)
            cyc = {"rounds": a["rounds"] + b["rounds"], "resume_s": b["resume_s"],
                   "ckpt_bytes": _tree_bytes(ckpt)}
            if w.exports:
                cyc.update(run_exports(eng_b, golden, f"cycle{len(cycles)}", ledger))
            check(eng_b, w, golden, b["summary"], ledger, 0)
            cycles.append(cyc)
            now = time.perf_counter()
            # start another cycle only if it should end within --seconds
            if ledger.failed or (now - t0) + (now - c0) > args.seconds:
                break
            ckpt = os.path.join(WORK, "ckpt", f"cycle{len(cycles)}")
            shutil.rmtree(ckpt, ignore_errors=True)
            eng_a = new_engine(spark, w, fix_dir, ckpt, max_rounds=k)
        measured_s = time.perf_counter() - t0
    stop_jvm()
    probe_after = cpu_probe()

    rounds = [r for c in cycles for r in steady(c["rounds"])]
    metrics = {
        "crawl_urls_per_s": throughput(rounds),
        "round_s_p50": statistics.median(t for _, t in rounds),
        "resume_s": statistics.median(c["resume_s"] for c in cycles),
        "setup_s": setup_s,
        "py_worker_peak_mb": mem.worker_peak_mib,
        "ckpt_bytes_per_url": cycles[0]["ckpt_bytes"] / len(golden["url_seen"]),
    }
    # printed with the metrics but not gated: first_round_s and the export
    # rates spread more run to run on a shared 4-core host than the largest
    # bound BENCHMARK.json may set; the JVM's PSS follows its heap limit and
    # the workers' sum follows how many workers are forked at the peak
    diagnostics = {
        "first_round_s": (cycles[0]["rounds"][0][2], "s"),
        "py_workers_sum_peak_mb": (mem.workers_peak_mib, "MiB"),
        "jvm_pss_peak_mb": (mem.root_peak_mib, "MiB"),
    }
    if w.exports:
        diagnostics["export_samples_per_s"] = (statistics.median(
            c["webdataset_n"] / c["webdataset_s"] for c in cycles), "sample/s")
        diagnostics["warc_records_per_s"] = (statistics.median(
            c["warc_n"] / c["warc_s"] for c in cycles), "record/s")
    n = len(cycles)
    samples = {
        "crawl_urls_per_s": f"{sum(s for s, _ in rounds)} URLs over {len(rounds)} round(s)",
        "round_s_p50": f"median of {len(rounds)} round(s)",
        "first_round_s": "round 0 of the first crawl after set-up, 1 sample",
        "resume_s": f"median of {n} resume(s)",
        "export_samples_per_s": f"median of {n} export(s)",
        "warc_records_per_s": f"median of {n} export(s)",
        "setup_s": "1 cold set-up: JVM launch, session, engine, cached tables",
        "py_worker_peak_mb": "largest Python worker, sampled every 0.2 s",
        "py_workers_sum_peak_mb": "all Python workers, sampled every 0.2 s",
        "jvm_pss_peak_mb": "sampled every 0.2 s; follows spark.driver.memory",
        "ckpt_bytes_per_url": f"{len(golden['url_seen'])} URLs seen",
    }
    extra = {
        "diagnostics": diagnostics,
        "cycles": n,
        "measured_s": measured_s,
        "cpu_probe_before": probe_before,
        "cpu_probe_after": probe_after,
        "samples": samples,
        "rounds": [c["rounds"] for c in cycles],
    }
    return metrics, extra


def run_traced(args, w, fix_dir: str, golden: dict, ledger: Ledger) -> tuple[dict, dict]:
    from perfbench.tracing import Tracer, self_time

    k, rounds_n = w.interrupt_after, golden["rounds"]
    spark = start_session(CORES)
    base = os.path.join(WORK, "ckpt", "trace-base")
    shutil.rmtree(base, ignore_errors=True)
    ledger.plan(k)
    a = crawl(new_engine(spark, w, fix_dir, base, max_rounds=k), w)
    ckpts = {}
    for leg in ("plain", "traced", "one-core"):
        ckpts[leg] = os.path.join(WORK, "ckpt", f"trace-{leg}")
        shutil.rmtree(ckpts[leg], ignore_errors=True)
        shutil.copytree(base, ckpts[leg])

    def resume(leg, tracer=None, lo=k):
        ledger.plan(rounds_n - k)
        eng = new_engine(spark, w, fix_dir, ckpts[leg])
        out = crawl(eng, w, resume=True, tracer=tracer)
        check(eng, w, golden, out["summary"], ledger, lo)
        return eng, out

    _, plain = resume("plain", lo=0)  # also settles engine A's rounds
    tracer = Tracer(spark, f"{w.name}-seed{args.seed}")
    eng, traced = resume("traced", tracer)
    exports = run_exports(eng, golden, "trace", ledger, tracer)
    udf = tracer.udf_profile()
    spark.stop()
    spark = start_session(1)
    _, one = resume("one-core")
    stop_jvm()
    tracer.dump(os.path.join(WORK, "trace", f"{w.name}-seed{args.seed}.jsonl"))

    thr_n = throughput(steady(plain["rounds"]))
    thr_1 = throughput(steady(one["rounds"]))
    rounds, spans = tracer.rounds, tracer.spans
    n = len(rounds)

    def total(name, key=None):
        return sum((s[key] if key else s["end"] - s["start"])
                   for s in spans if s["name"] == name)

    children: dict[str, list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    selfs = [self_time(s, children.get(s["id"], []))
             for s in spans if s["name"] == "engine.round"]
    pages = sum(r["rows_out"] for r in rounds)
    links = udf["urlnorm"]["calls"].get("prepare_url", 0)
    cands = total("dedup.admit", "rows_in")
    admitted = total("dedup.admit", "rows")
    probed = total("dedup.bloom_probe", "rows")
    images = (traced["summary"].get("payload_checked", 0)
              - a["summary"].get("payload_checked", 0))

    def per(x, d, scale=1.0):
        return scale * x / d if d else 0.0

    metrics = {
        "engine.jobs_per_round": per(sum(len(r["jobs"]) for r in rounds), n),
        "engine.tasks_per_round": per(sum(r["tasks"] for r in rounds), n),
        "engine.self_s_per_round": per(sum(selfs), n),
        "engine.failed_tasks": sum(r["failed_tasks"] for r in rounds),
        "engine.scaling_eff_1toN": thr_n / (CORES * thr_1),
        "politeness.s_per_round": per(total("politeness.select_fetch_batch"), n),
        "politeness.rows_in": sum(r["rows_in"] for r in rounds),
        "politeness.rows_out": pages,
        "politeness.hot_host_share": per(sum(r["hot_host_share"] for r in rounds), n),
        "extract.udf_s": udf["extract"]["s"],
        "extract.pages": pages,
        "extract.us_per_page": per(udf["extract"]["s"], pages, 1e6),
        "urlnorm.udf_s": udf["urlnorm"]["s"],
        "urlnorm.links": links,
        "urlnorm.us_per_link": per(udf["urlnorm"]["s"], links, 1e6),
        "dedup.admit_s": total("dedup.admit"),
        "dedup.candidates": cands,
        "dedup.admitted": admitted,
        "dedup.admit_ratio": per(admitted, cands),
        "dedup.bloom_pass_ratio": per(total("dedup.bloom_probe", "passed"), probed),
        "dedup.bloom_update_s": total("dedup.bloom_update"),
        "snapshots.commit_s_per_round": per(total("snapshots.commit"), n),
        "snapshots.write_jobs_per_round": per(sum(r["writes"] for r in rounds), n),
        "snapshots.files_per_round": per(sum(r["files"] for r in rounds), n),
        "snapshots.bytes_per_round": per(sum(r["bytes"] for r in rounds), n),
        "snapshots.read_s_per_round": per(total("snapshots.read_full")
                                          + total("snapshots.read_deltas"), n),
        "snapshots.delta_dirs_read": total("snapshots.read_deltas", "dirs"),
        "imaging.images_checked": images,
        "imaging.udf_s": udf["imaging"]["s"],
        "imaging.ms_per_image": per(udf["imaging"]["s"], images, 1e3),
        "webdataset.s": exports["webdataset_s"],
        "webdataset.samples": exports["webdataset_n"],
        "webdataset.bytes_out": exports["webdataset_bytes"],
        "warc.s": exports["warc_s"],
        "warc.records": exports["warc_n"],
        "warc.bytes_out": exports["warc_bytes"],
        "trace_overhead_ratio": throughput(steady(traced["rounds"])) / thr_n,
    }
    # share of the traced rounds' wall time spent in each layer's spans
    # (the expansion span holds the parse and prepare_url UDFs; the probe
    # span lies inside the admit span)
    round_s = total("engine.round")
    shares = {name: per(total(name), round_s) for name in (
        "politeness.select_fetch_batch", "engine.expand_candidates", "dedup.admit",
        "dedup.bloom_probe", "dedup.bloom_update", "snapshots.commit",
        "snapshots.read_full", "snapshots.read_deltas")}
    extra = {
        "round_shares": shares,
        "throughput_1": thr_1,
        "throughput_n": thr_n,
        "rounds": {"base": a["rounds"], "plain": plain["rounds"],
                   "traced": traced["rounds"], "one_core": one["rounds"]},
        "udf_calls": {k: v["calls"] for k, v in udf.items()},
    }
    return metrics, extra


# ------------------------------------------------------------------- main

def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    os.chdir(ROOT)  # Python workers import the engine from the working dir
    sys.path.insert(0, ROOT)
    # the engine runs with its defaults: drop every tuning knob it reads
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    try:
        import crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, prepare

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    units = metric_units(args.trace)
    # keep Spark's scratch files (shuffle blocks, JVM temp) inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    w = WORKLOADS[args.workload]
    fix_dir, golden = prepare(w, args.seed, WORK)
    prepared = time.perf_counter()
    ledger = Ledger()
    mode = run_traced if args.trace else run_timed
    try:
        metrics, extra = mode(args, w, fix_dir, golden, ledger)
    except Exception:  # an op raised: the ops it planned count as failed
        traceback.print_exc()
        metrics, extra = {}, {}
        stop_jvm()
    if metrics and set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} differ from "
                           "BENCHMARK.json")
    attempted, failed = ledger.planned, ledger.failed
    extra["inputs_s"] = prepared - started  # fixture + golden (cached per seed)
    extra["wall_s"] = time.perf_counter() - started

    print(f"workload {w.name} seed {args.seed} local[{CORES}] trace {args.trace}: "
          f"{attempted} ops, {failed} failed")
    print(f"failed_ops_ratio = {failed / max(attempted, 1):.6g} ratio")
    shown = {k: (v, units[k]) for k, v in metrics.items()}
    shown.update(extra.get("diagnostics", {}))
    for name, (value, unit) in shown.items():
        note = extra.get("samples", {}).get(name)
        print(f"{name} = {value:.6g} {unit}" + (f"  ({note})" if note else ""))
    for key in ("cpu_probe_before", "cpu_probe_after", "round_shares", "inputs_s", "wall_s"):
        if key in extra:
            print(f"{key}: {json.dumps(extra[key])}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{w.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"metrics": metrics, "attempted": attempted, "failed": failed, **extra},
                  f, indent=1)

    correct = failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
