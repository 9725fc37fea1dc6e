"""Benchmark of the data_ingestors_spark package.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one SparkSession
(``local[4]`` at most), one client in a closed loop: each operation
starts after the previous one returned. Inputs are generated from
``--seed`` under ``perfbench/.work/`` (the TPC-H queries read the fixed
tables under ``perfbench/data/``); every output is checked outside the
timed region, and an operation whose output, or whose pass's final
state, fails a check counts as failed.

Memory: ``peak_rss_mb`` is the peak proportional set size of the
process tree (driver JVM and Python workers). The driver heap is fixed
and pre-touched, so that figure moves with memory outside the heap;
``live_heap_mb`` is the heap the driver still holds after a full
collection at the end of the first measured pass. Spark's status store
keeps the jobs and stages a session ran, so the heap after a later pass
may grow with the number of passes the time budget allowed; after the
first pass the history is the same in every run (session start, warm
pass, one pass).

A run starts the session and makes an untimed warm pass on separate
inputs (together ``setup_s``), then repeats passes over the workload's
inputs until ``--seconds`` of operation time have been measured and
the workload's minimum number of passes has run, or until another pass
would likely end past ``WALL_BUDGET_S``; a pass always runs to its end.
With ``--trace 0`` the last line of standard output is one JSON object
with the end-to-end metrics. With ``--trace 1`` untraced and traced
passes alternate, U T U (U T when the wall budget is short); the
metrics are the per-layer numbers of the traced passes (means per
pass) and the tracing overhead (mean traced minus mean untraced pass
time). The line before the last holds the run report: metric details,
run environment and inputs. The exit code is 0
only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
DRIVER_MEMORY = "2g"
# no pass starts that would likely end past this many seconds of the run
# (once the minimum passes have run): a run must end within 180 s
WALL_BUDGET_S = 140.0

END_TO_END_UNITS = {
    "setup_s": "s", "run_s": "s", "rows_per_s": "1/s", "op_p50_s": "s",
    "op_tail_s": "s", "ok_op_share": "share", "peak_rss_mb": "MB", "live_heap_mb": "MB",
    "stored_bytes_ratio": "ratio",
}
# per-layer metric -> unit; spans named by the module that owns the
# wrapped public function
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "io.readers.preflight_s": "s",
    "validators.battery_s": "s", "validators.columns_s": "s",
    "validators.files_s": "s", "validators.voc_s": "s",
    "validators.pairing_s": "s", "validators.resolution_s": "s",
    "ingest.pipeline.self_s": "s",
    "ingest.pipeline.rows_in": "count", "ingest.pipeline.rows_written": "count",
    "ingest.pipeline.rows_skipped": "count", "ingest.pipeline.rows_deduped": "count",
    "ingest.file_transfer.transfer_s": "s", "ingest.file_transfer.files_copied": "count",
    "ingest.file_transfer.bytes_copied": "bytes",
    "io.writers.upsert_insert_s": "s", "io.writers.upsert_merge_s": "s",
    "io.writers.compact_s": "s", "io.writers.files_written": "count",
    "io.writers.bytes_written": "bytes",
    "streaming.neardup.dedup_fold_s": "s", "streaming.neardup.text_fold_s": "s",
    "streaming.neardup.emb_fold_s": "s", "streaming.neardup.compact_s": "s",
    "streaming.neardup.index_files": "count", "streaming.neardup.pairs_emitted": "count",
    "ingest.refresh.self_s": "s", "ingest.refresh.critical_fold_s": "s",
    "ingest.refresh.fold_overlap": "ratio",
    "queries.build_s": "s", "queries.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.task_run_s": "s", "spark.cpu_busy_share": "share",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}
# spans timed as a whole: span name -> metric
SPAN_TOTALS = {
    "io.readers.preflight": "io.readers.preflight_s",
    "validators.battery": "validators.battery_s",
    "validators.columns": "validators.columns_s",
    "validators.files": "validators.files_s",
    "validators.voc": "validators.voc_s",
    "validators.pairing": "validators.pairing_s",
    "validators.resolution": "validators.resolution_s",
    "ingest.file_transfer.transfer": "ingest.file_transfer.transfer_s",
    "io.writers.upsert_insert": "io.writers.upsert_insert_s",
    "io.writers.upsert_merge": "io.writers.upsert_merge_s",
    "io.writers.compact": "io.writers.compact_s",
    "streaming.neardup.dedup_fold": "streaming.neardup.dedup_fold_s",
    "streaming.neardup.text_fold": "streaming.neardup.text_fold_s",
    "streaming.neardup.emb_fold": "streaming.neardup.emb_fold_s",
    "streaming.neardup.compact": "streaming.neardup.compact_s",
    "queries.build": "queries.build_s",
    "queries.exec": "queries.exec_s",
}
# the refresh steps that run concurrently on its thread pool
REFRESH_FOLDS = (
    "streaming.neardup.dedup_fold", "streaming.neardup.text_fold",
    "streaming.neardup.emb_fold", "io.writers.upsert_insert", "io.writers.upsert_merge",
)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it:
    (value, percentile, sample count). With fewer than eleven samples
    no such percentile exists and the maximum is reported as p100."""
    ys = sorted(samples)
    n = len(ys)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return ys[-1], 100.0, n
    return ys[n - 11], 100.0 * (n - 10) / n, n


# --- process tree -------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between forked workers are
    split between them instead of counted once per process."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            total += _pss_bytes(p)
        except (OSError, IndexError, ValueError):
            continue
    return total


def live_heap_bytes(sc) -> int:
    """Heap the driver JVM holds after a full collection: the data it
    retains, without the garbage whose amount depends on when the
    collector last ran. Releasing a pass's data takes several rounds:
    Python's collector drops the py4j references to the pass's
    DataFrames, a JVM collection then frees the plans, and only after
    that does Spark's context cleaner, on its own thread, release the
    shuffles and broadcasts they held. So this collects in both, a pause
    apart, until the least heap seen has not fallen by half a megabyte
    for four rounds (at most sixteen rounds), and reports it."""
    import gc

    mem = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    least, steady = None, 0
    for _ in range(16):
        gc.collect()
        mem.gc()
        time.sleep(0.1)
        used = mem.getHeapMemoryUsage().getUsed()
        if least is None or used < least - 2**19:
            steady = 0
        else:
            steady += 1
        least = used if least is None else min(least, used)
        if steady >= 4:
            break
    return least


class RssSampler:
    """Peak resident memory (PSS) of this process and all its
    descendants (the driver JVM and the Python workers), sampled every
    second: the sampler shares the interpreter lock with the driver."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(1.0):
            self.peak = max(self.peak, tree_memory_bytes(os.getpid()))

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak = tree_memory_bytes(os.getpid())

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- environment --------------------------------------------------------


def configure_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and size the
    session for this machine."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cores = min(CORES, os.cpu_count() or CORES)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        # a fixed, pre-touched heap: page faults of a growing heap do not
        # land in the timed passes, and the driver's resident memory does
        # not hinge on how far the collector chose to grow the heap; heap
        # use itself is measured from the JVM's memory pools (JvmHeap)
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.driver.extraJavaOptions='-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch'"
            " pyspark-shell"
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def run_info(spark, seed: int, inputs: dict) -> dict:
    def git_head() -> str | None:
        try:
            out = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            )
            return out.stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    import pyspark

    sc = spark.sparkContext
    return {
        "seed": seed,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "cpu_count": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "git_head": git_head(),
        "input_rows": inputs["rows"],
        "input_bytes": inputs["bytes"],
    }


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and everything it started,
    and wait for them to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# --- tracing ------------------------------------------------------------


def install_spans(tracer) -> None:
    """Wrap the public functions at each layer boundary."""
    from data_ingestors_spark.ingest import pipeline, refresh
    from data_ingestors_spark.io import writers
    from data_ingestors_spark.streaming import neardup
    from data_ingestors_spark.validators import mapping

    def upsert_name(spark, target_path, *args, **kwargs) -> str:
        merge = os.path.isdir(target_path)
        return "io.writers.upsert_merge" if merge else "io.writers.upsert_insert"

    tracer.patch(pipeline.Ingestor, "ingest", "ingest.pipeline")
    tracer.patch(pipeline, "read_csv_source", "io.readers.preflight")
    tracer.patch(pipeline, "run_battery", "validators.battery")
    tracer.patch(pipeline, "transfer_files", "ingest.file_transfer.transfer")
    tracer.patch(pipeline, "upsert", upsert_name)
    tracer.patch(writers, "upsert", upsert_name)
    tracer.patch(writers, "compact_table", "io.writers.compact")
    tracer.patch(mapping, "validate_schema_single_pass", "validators.columns")
    tracer.patch(mapping, "validate_file_types", "validators.files")
    tracer.patch(mapping, "validate_voc_xml", "validators.voc")
    tracer.patch(mapping, "validate_file_pairing", "validators.pairing")
    tracer.patch(mapping, "validate_image_resolution", "validators.resolution")
    tracer.patch(refresh, "refresh_corpus", "ingest.refresh")
    tracer.patch(neardup, "incremental_dedup_fold_batch", "streaming.neardup.dedup_fold")
    tracer.patch(neardup, "neardup_fold_batch", "streaming.neardup.text_fold")
    tracer.patch(neardup, "embedding_neardup_fold_batch", "streaming.neardup.emb_fold")
    tracer.patch(neardup, "compact_neardup_index", "streaming.neardup.compact")
    tracer.patch(neardup, "compact_embedding_neardup_index", "streaming.neardup.compact")


def layer_metrics(tracer, ops: list[dict], counters: list[dict], stats, pass_s: float) -> dict:
    """Per-layer numbers of one traced pass."""
    from perfbench.trace import critical_and_overlap, self_time

    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    spans = [s for s in tracer.spans if s.op is not None]
    for s in spans:
        if s.name in SPAN_TOTALS:
            m[SPAN_TOTALS[s.name]] += s.end - s.start
        elif s.name == "ingest.pipeline":
            m["ingest.pipeline.self_s"] += self_time(s, tracer.children(s))
        elif s.name == "ingest.refresh":
            kids = tracer.children(s)
            m["ingest.refresh.self_s"] += self_time(s, kids)
            crit, overlap = critical_and_overlap([k for k in kids if k.name in REFRESH_FOLDS])
            m["ingest.refresh.critical_fold_s"] += crit
            m["ingest.refresh.fold_overlap"] += overlap
    n_refresh = sum(1 for s in spans if s.name == "ingest.refresh")
    if n_refresh:
        m["ingest.refresh.fold_overlap"] /= n_refresh
    for o in ops:
        m["ingest.pipeline.rows_in"] += o["rows_in"]
        m["ingest.pipeline.rows_written"] += o["rows_written"]
        m["ingest.pipeline.rows_skipped"] += o["rows_skipped"]
        m["ingest.pipeline.rows_deduped"] += o["rows_deduped"]
    for c in counters:
        for k, v in c.items():
            m[f"spark.{k}"] += v
    cores = min(CORES, os.cpu_count() or CORES)
    m["spark.cpu_busy_share"] = m["spark.task_cpu_s"] / (pass_s * cores) if pass_s else 0.0
    m["ingest.file_transfer.files_copied"] = stats.files_copied
    m["ingest.file_transfer.bytes_copied"] = stats.bytes_copied
    m["io.writers.files_written"] = stats.files_written
    m["io.writers.bytes_written"] = stats.bytes_written
    m["streaming.neardup.index_files"] = stats.index_files
    m["streaming.neardup.pairs_emitted"] = stats.pairs_emitted
    return m


def op_counts(result) -> dict:
    """Row accounting of one operation's returned summary."""
    out = dict.fromkeys(("rows_in", "rows_written", "rows_skipped", "rows_deduped"), 0)
    if hasattr(result, "total_records"):
        out.update(
            rows_in=result.total_records, rows_written=result.processed,
            rows_skipped=result.skipped, rows_deduped=result.deduped,
        )
    elif isinstance(result, dict) and result.get("upsert"):
        u = result["upsert"]
        out.update(
            rows_in=u["updated"] + u["inserted"] + u["deduped"],
            rows_written=u["updated"] + u["inserted"], rows_deduped=u["deduped"],
        )
    return out


# --- the run ------------------------------------------------------------


def run(args) -> tuple[dict, dict, bool]:
    began = time.perf_counter()
    work = os.path.join(ROOT, "perfbench", ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    os.chdir(work)  # spark-warehouse and metastore files land here
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    from data_ingestors_spark import session
    from perfbench.trace import LAZY_LAYERS_NOTE, SparkCounters, Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer() if args.trace else None
    wl = WORKLOADS[args.workload](work, args.seed, "smoke" if args.smoke else "full", tracer)
    inputs = wl.prepare()
    prepared = time.perf_counter()

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        start_s = time.perf_counter() - t0
        wl.warm(spark, os.path.join(work, "warm"))
        setup_s = time.perf_counter() - t0
        info = run_info(spark, args.seed, inputs)

        counters = SparkCounters(spark.sparkContext) if args.trace else None
        sampler.reset()
        passes: list[dict] = []
        measured = 0.0
        # traced runs go U T U (at least): a steady drift over the run
        # (the JIT still settling, the store growing) then cancels out of
        # the tracing overhead. Past WALL_BUDGET_S they stop after U T.
        need = max(wl.min_passes, 2 if args.trace else 1)
        want = max(wl.min_passes, 3 if args.trace else 1)
        last_wall = 0.0
        while len(passes) != wl.max_passes:
            if len(passes) >= need and (
                (measured >= args.seconds and len(passes) >= want)
                or time.perf_counter() - began + last_wall > WALL_BUDGET_S
            ):
                break
            pass_began = time.perf_counter()
            traced = bool(args.trace) and len(passes) % 2 == 1
            pass_dir = os.path.join(work, f"pass_{len(passes)}")
            ops, problems, op_counters = [], [], []
            if traced:
                tracer.spans.clear()
                tracer.enabled = True
                install_spans(tracer)
            for op in wl.ops(spark, pass_dir, len(passes)):
                if traced:
                    tracer.op = len(ops)
                t0 = time.perf_counter()
                try:
                    result, error = op.run(), None
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    result, error = None, f"{op.name}: {type(e).__name__}: {e}"
                dt = time.perf_counter() - t0
                if counters:
                    c = counters.collect()
                    if traced:
                        op_counters.append(c)
                found = [error] if error else op.check(result)
                problems += found
                ops.append({"name": op.name, "s": dt, "ok": not found, **op_counts(result)})
            if traced:
                tracer.enabled = False
                tracer.unpatch()
            found = wl.pass_check(spark, pass_dir, len(passes))
            if found and ops:
                # the final state is the last operation's output
                ops[-1]["ok"] = False
            problems += found
            stats = wl.pass_stats(pass_dir, len(passes))
            pass_s = sum(o["s"] for o in ops)
            heap_began = time.perf_counter()
            record = {"traced": traced, "s": pass_s, "ops": ops, "problems": problems,
                      "stored_ratio": stats.stored_bytes / stats.input_bytes,
                      "live_heap": live_heap_bytes(spark.sparkContext),
                      "heap_s": time.perf_counter() - heap_began}
            if traced:
                record["layers"] = layer_metrics(tracer, ops, op_counters, stats, pass_s)
                tracer.dump(os.path.join(work, f"spans_{len(passes)}.json"))
            passes.append(record)
            if not traced:
                measured += pass_s
            shutil.rmtree(pass_dir, ignore_errors=True)
            last_wall = time.perf_counter() - pass_began
        peak_rss = sampler.peak
    finally:
        if tracer:
            tracer.unpatch()
        sampler.stop()
        if spark is not None:
            stop_spark(spark)

    plain = [p for p in passes if not p["traced"]]
    op_s = [o["s"] for p in plain for o in p["ops"]]
    all_ops = [o for p in passes for o in p["ops"]]
    failed = sum(1 for o in all_ops if not o["ok"])
    run_s = statistics.median([p["s"] for p in plain])
    tail_v, tail_pct, tail_n = tail(op_s)
    metrics = {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": wl.pass_rows / run_s if run_s else 0.0,
        "op_p50_s": statistics.median(op_s),
        "op_tail_s": tail_v,
        "ok_op_share": 1.0 - failed / len(all_ops),
        "peak_rss_mb": peak_rss / 2**20,
        "live_heap_mb": plain[0]["live_heap"] / 2**20,
        "stored_bytes_ratio": statistics.median([p["stored_ratio"] for p in plain]),
    }
    report = {
        "workload": args.workload,
        "info": info,
        "passes": len(passes),
        "pass_s": [p["s"] for p in passes],
        "live_heap_mb": [p["live_heap"] / 2**20 for p in passes],
        "live_heap_measure_s": [p["heap_s"] for p in passes],
        "op_s": [{o["name"]: o["s"] for o in p["ops"]} for p in plain],
        "prepare_s": prepared - began,
        "wall_s": time.perf_counter() - began,
        "op_tail": {"percentile": tail_pct, "samples": tail_n},
        "failed_op_share": failed / len(all_ops),
        "setup": {"start_s": start_s, "warm_s": setup_s - start_s},
        "problems": [x for p in passes for x in p["problems"]][:20],
    }
    if args.trace:
        traced_passes = [p for p in passes if p["traced"]]
        layers = {
            k: statistics.mean(p["layers"][k] for p in traced_passes) for k in PER_LAYER_UNITS
        }
        layers["session.start_s"] = start_s
        layers["session.warm_s"] = setup_s - start_s
        layers["trace.overhead_s"] = (
            statistics.mean(p["s"] for p in traced_passes) - statistics.mean(p["s"] for p in plain)
        )
        report["note"] = LAZY_LAYERS_NOTE
        report["end_to_end"] = metrics
        metrics = layers
        units = PER_LAYER_UNITS
    else:
        units = END_TO_END_UNITS
    ok = not any(p["problems"] for p in passes)
    out = {
        "correct": ok,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return out, report, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[
        "tpch_queries", "ingest_refresh", "ingest_tabular", "ingest_media", "corpus_refresh"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_ingestors_spark")):
        print(f"data_ingestors_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    out, report, ok = run(args)
    print(json.dumps(report, default=str))
    print(json.dumps(out))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
