"""Benchmark of the biocypher_metta_spark engine.

    python3 perfbench/run.py --workload gencode_build --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. One process drives one SparkSession at
local[<usable cores>]. Set-up (session start and a warm-up of WARM_OPS
ops on a 1/WARM_SCALE-size input) is timed, then the workload's operation
repeats for --seconds and every output is checked. The last stdout line is a JSON
object {correct, attempted, failed, metrics}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (a separate traced pass,
plus local[1] vs local[N] scaling and the tracing overhead). Scratch data
lives under .perfbench_work/ and is deleted; a traced run leaves its spans
in .perfbench_out/. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.trace import STAGE_UNITS  # noqa: E402
DRIVER_MEM = "1g"
# JIT and Spark's driver-side paths need several ops to settle; small ops
# get there in less time than full-size ones
WARM_OPS = 3
WARM_SCALE = 8

END_TO_END = {"setup_s": "s", "triples_per_s": "1/s", "op_p50_ms": "ms",
              "peak_rss_mb": "MB"}
STAGE_LAYERS = ("sources", "adapters", "serializer", "canonicalize", "linking",
                "lineage", "sinks", "query")
PER_LAYER = {
    "sources.lines_out": "count", "sources.parse_s": "s",
    "adapters.rows_out": "count", "adapters.extract_s": "s",
    "serializer.atoms_out": "count", "serializer.render_s": "s",
    "pipeline.plan_s": "s",
    "canonicalize.dedup_s": "s", "canonicalize.dedup_ratio": "ratio",
    "canonicalize.cc_s": "s", "canonicalize.cc_jobs": "count",
    "canonicalize.remap_s": "s",
    "linking.ngrams": "count", "linking.mentions": "count", "linking.hit_ratio": "ratio",
    "linking.link_s": "s", "linking.agg_s": "s", "linking.udf_s": "s",
    "lineage.write_s": "s", "lineage.manifest_s": "s", "lineage.partitions": "count",
    "sinks.metta_write_s": "s", "sinks.metta_bytes": "B",
    "query.plan_ms": "ms", "query.exec_ms": "ms", "query.files_read_per_probe": "count",
    "query.rows_scanned_per_row": "ratio",
    "session.start_s": "s", "session.warmup_s": "s", "session.scaling_eff": "ratio",
    "trace.overhead_ratio": "ratio",
}
PER_LAYER.update({f"{layer}.{k}": unit for layer in STAGE_LAYERS
                  for k, unit in STAGE_UNITS.items()})


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, work: Path):
        self.work = work
        self.spark = None

    def start(self, cores: int):
        from biocypher_metta_spark.session import get_spark

        self.spark = get_spark("perfbench", master=f"local[{cores}]", extra_confs={
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "10000", "spark.ui.retainedJobs": "10000",
            "spark.sql.ui.retainedExecutions": "10000",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self, cores: int):
        self.spark.stop()
        return self.start(cores)

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _isolate(work: Path) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM before timing, so that
    the first timed op does not pay for the warm-up's heap."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def warm_up(cls, work: Path, seed: int, spark) -> list[list[str]]:
    """WARM_OPS ops on a smaller input with its own seed; returns each
    op's failed checks."""
    from perfbench.workloads import NULL

    w = cls(work / "warm", seed + 1_000_000, scale=WARM_SCALE)
    w.prepare(spark)
    w.bind(spark)
    bad = [w.check(w.op(NULL))[0] for _ in range(WARM_OPS)]
    w.release()
    return bad


def measure(wl, seconds: float) -> tuple[list[dict], int, list[str]]:
    """Repeat the workload's operation for `seconds`; check every output."""
    from perfbench.workloads import NULL

    runs, failures, failed = [], [], 0
    settle(wl.spark)
    end = time.perf_counter() + seconds
    while not runs or time.perf_counter() < end:
        r = wl.op(NULL)
        bad, stats = wl.check(r)
        failures += bad
        failed += bool(bad)
        runs.append({"seconds": r["seconds"], **stats})
    return runs, failed, failures


def traced(wl, sess: Session, cores: int, setup: dict) -> tuple[dict, dict, list[str], dict]:
    """Untraced reference ops, one traced op, then the same op at local[1]."""
    from perfbench.trace import StatusReader, Tracer, layer_stage_metrics
    from perfbench.workloads import NULL

    failures: list[str] = []
    counts = {"attempted": 0, "failed": 0}

    def once(tr) -> tuple[float, dict]:
        r = wl.op(tr)
        bad, st = wl.check(r)
        failures.extend(bad)
        counts["attempted"] += 1
        counts["failed"] += bool(bad)
        return r["seconds"], st

    settle(sess.spark)
    ref = statistics.median(once(NULL)[0] for _ in range(2))
    tr = Tracer(True)
    # the traced op caches layer outputs; let AQE coalesce their shuffle
    # partitions as it does for the same plans uncached, so the writes
    # that read them keep the untraced file layout
    conf = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    sess.spark.conf.set(conf, "true")
    with tr.span("run"):
        traced_s, stats = once(tr)
    sess.spark.conf.unset(conf)
    if hasattr(wl, "udf_path"):
        n_udf = wl.udf_path(tr)
        n_join = next(sp.attrs["mentions"] for sp in tr.spans if sp.name == "linking.link")
        counts["attempted"] += 1
        if n_udf != n_join:
            failures.append(f"Arrow UDF linker found {n_udf} mentions, join linker {n_join}")
            counts["failed"] += 1
    reader = StatusReader(sess.spark)
    stages, jobs, sql = reader.stages(), reader.job_times(), reader.sql_nodes()

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"], m["session.warmup_s"] = setup["start_s"], setup["warm_s"]
    m["trace.overhead_ratio"] = traced_s / ref
    for name in ("sources.parse", "adapters.extract", "serializer.render", "pipeline.plan",
                 "canonicalize.dedup", "canonicalize.cc", "canonicalize.remap", "linking.link",
                 "linking.agg", "linking.udf", "lineage.write", "lineage.manifest",
                 "sinks.metta_write"):
        m[f"{name}_s"] = tr.layer_seconds(name)
    attrs: dict = {}
    for sp in tr.spans:
        for k, v in sp.attrs.items():
            if isinstance(v, (int, float)):
                attrs[(sp.name, k)] = attrs.get((sp.name, k), 0) + v
    m["sources.lines_out"] = attrs.get(("sources.parse", "lines_out"), 0)
    m["adapters.rows_out"] = attrs.get(("adapters.extract", "rows_out"), 0)
    m["serializer.atoms_out"] = attrs.get(("serializer.render", "atoms_out"), 0)
    node_rows = attrs.get(("adapters.extract", "node_rows"), 0)
    if node_rows:
        m["canonicalize.dedup_ratio"] = attrs.get(("canonicalize.dedup", "nodes_out"), 0) / node_rows
    m["linking.mentions"] = attrs.get(("linking.link", "mentions"), 0)

    def spans_of(name):
        return [sp for sp in tr.spans if sp.name == name]

    def within(t, spans):
        return any(sp.start <= t <= sp.end for sp in spans)

    cc = spans_of("canonicalize.cc")
    m["canonicalize.cc_jobs"] = sum(within(t, cc) for t in jobs)
    link = spans_of("linking.link")
    m["linking.ngrams"] = sum(n["metrics"].get("number of output rows", 0) for n in sql
                              if n["node"] == "Generate" and within(n["t"], link))
    if m["linking.ngrams"]:
        m["linking.hit_ratio"] = m["linking.mentions"] / m["linking.ngrams"]
    probes = spans_of("query.probe")
    if probes:
        m["query.plan_ms"] = 1000 * tr.layer_seconds("query.plan") / len(probes)
        m["query.exec_ms"] = 1000 * tr.layer_seconds("query.exec") / len(probes)
        scans = [n for n in sql if n["node"].startswith("Scan") and within(n["t"], probes)]
        m["query.files_read_per_probe"] = sum(
            n["metrics"].get("number of files read", 0) for n in scans) / len(probes)
        returned = sum(sp.attrs["rows"] for sp in probes)
        scanned = sum(n["metrics"].get("number of output rows", 0) for n in scans)
        m["query.rows_scanned_per_row"] = scanned / max(1, returned)
    for layer, a in layer_stage_metrics(tr, stages).items():
        if layer in STAGE_LAYERS:
            for k in STAGE_UNITS:
                m[f"{layer}.{k}"] = a[k]
    m["lineage.partitions"] = stats.get("partitions", 0)
    m["sinks.metta_bytes"] = stats.get("metta_bytes", 0)

    # N -> 1 scaling on the same input, untraced
    spark = sess.restart(1)
    wl.bind(spark)
    one, _ = once(NULL)
    m["session.scaling_eff"] = (one / ref) / cores
    return m, counts, failures, {"tracer": tr, "ref_s": ref, "traced_s": traced_s,
                                 "local1_s": one}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "biocypher_metta_spark" / "__init__.py").is_file():
        print("perfbench: biocypher_metta_spark is not in this checkout", file=sys.stderr)
        return 2
    from perfbench.trace import tree_peak_rss_mb
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(work)
    cores = _cores()
    sess = Session(work)
    wl = WORKLOADS[args.workload](work, args.seed)
    try:
        t0 = time.perf_counter()
        spark = sess.start(cores)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_bad = warm_up(type(wl), work, args.seed, spark)
        setup = {"start_s": start_s, "warm_s": time.perf_counter() - t0}
        wl.prepare(spark)
        wl.bind(spark)
        if args.trace:
            metrics, counts, failures, info = traced(wl, sess, cores, setup)
            units = PER_LAYER
        else:
            runs, failed, failures = measure(wl, args.seconds)
            counts = {"attempted": len(runs), "failed": failed}
            s = wl.summary(runs)
            metrics = {"setup_s": setup["start_s"] + setup["warm_s"], **s["e2e"],
                       "peak_rss_mb": tree_peak_rss_mb()}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is using it
    counts["attempted"] += len(warm_bad)
    counts["failed"] += sum(1 for b in warm_bad if b)
    failures = [f for b in warm_bad for f in b] + failures
    if args.trace:
        out = ROOT / ".perfbench_out" / f"spans-{args.workload}-seed{args.seed}.json"
        info.pop("tracer").dump(out, {"workload": args.workload, "seed": args.seed,
                                      "cores": cores, **info})
        print(f"spans: {out.relative_to(ROOT)}; traced {info['traced_s']:.3f} s vs "
              f"untraced {info['ref_s']:.3f} s (overhead x{metrics['trace.overhead_ratio']:.3f})")
    else:
        units = END_TO_END
        print(f"{args.workload} seed={args.seed} local[{cores}] ops={len(runs)}")
        extra = dict(s["extra"])
        extra["error_rate"] = (counts["failed"] / counts["attempted"], "ratio")
        if len(runs) <= 20:
            print("  op seconds: " + " ".join(f"{r['seconds']:.3f}" for r in runs))
        for k, unit in END_TO_END.items():
            print(f"  {k:<22} {metrics[k]:>14.4f} {unit}")
        for k, (v, unit) in extra.items():
            print(f"  {k:<22} {v:>14.4f} {unit}")
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": counts["attempted"],
                      "failed": counts["failed"],
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
