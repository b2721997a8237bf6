"""The two workloads: inputs, one timed operation, and its output check.

Each workload object is built once per run. `prepare` makes the seeded
inputs (not timed), `bind` creates the session-bound DataFrames (again
after a session restart), and `op` performs one unit of work through the
package's public functions. With an active tracer, `op` forces every
layer's output at its boundary so that each span holds that layer's work.
`scale` shrinks the inputs for the warm-up instance.
"""

from __future__ import annotations

import json
import shutil
import statistics
import time
from collections import Counter
from pathlib import Path

from perfbench import gen
from perfbench.trace import Tracer, wrapped

NULL = Tracer(False)


def _noop(df) -> None:
    """Evaluate every column of every row without storing anything."""
    df.write.format("noop").mode("overwrite").save()


def _tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _p(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, round(q * len(s) + 0.5) - 1))]


class GencodeBuild:
    """Interleaved GTF documents -> pipeline.build -> pipeline.materialize,
    then the reference probes over the store just written."""

    name = "gencode_build"
    n_docs = 24_000
    n_genes = 6_000
    n_probes = 12

    def __init__(self, work: Path, seed: int, scale: int = 1):
        self.work = work
        self.corpus = gen.GtfCorpus(seed, self.n_docs // scale, self.n_genes // scale)
        self.docs_path = work / "input" / "documents"
        self._k = 0

    def prepare(self, spark) -> None:
        from biocypher_metta_spark.schema import load_default_registry

        self.corpus.documents(spark).write.mode("overwrite").parquet(str(self.docs_path))
        self.registry = load_default_registry()
        self.want_atoms = self.corpus.expected_atoms(self.registry)
        self.want_parts = self.corpus.expected_partitions()
        self.want_sample = self.corpus.atom_sample(self.registry)
        self.probes = gen.probe_plan(self.corpus, self.n_probes)

    def bind(self, spark) -> None:
        self.spark = spark

    def release(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def op(self, tr: Tracer) -> dict:
        from biocypher_metta_spark import pipeline
        from biocypher_metta_spark.sources.documents import read_documents

        self._k += 1
        out = self.work / f"out{self._k}"
        t0 = time.perf_counter()
        ctx = pipeline.PipelineContext(self.spark, read_documents(self.spark, str(self.docs_path)),
                                       registry=self.registry)
        cached = []
        if not tr.on:
            res = pipeline.build(ctx, gen.GENCODE_CONFIG)
            manifests = pipeline.materialize(res, str(out), ctx.registry)
        else:
            manifests = self._traced(ctx, out, tr, cached)
        build_s = time.perf_counter() - t0
        for df in list(ctx._cache.values()) + cached:
            df.unpersist()
        store = Store(self.spark, out)
        answers = [store.probe(p, tr) for p in self.probes]
        return {"seconds": time.perf_counter() - t0, "build_s": build_s, "out": out,
                "manifests": manifests, "answers": answers}

    def _traced(self, ctx, out: Path, tr: Tracer, cached: list) -> dict:
        """build + materialize with every layer's output forced in its span;
        frames this caches are appended to `cached`."""
        from biocypher_metta_spark import lineage, pipeline, sinks
        from biocypher_metta_spark.adapters import gencode

        with tr.span("pipeline.plan"):
            res = pipeline.build(ctx, gen.GENCODE_CONFIG)
            for df in (res.nodes, res.edges, res.atoms):
                df._jdf.queryExecution().executedPlan()
        with tr.span("sources.parse") as sp:
            sp.attrs["lines_out"] = ctx.gtf().count()
        typed = [gencode.gene_nodes(ctx.gtf())[0], gencode.transcript_nodes(ctx.gtf())[0]]
        with tr.span("adapters.extract") as sp:
            for df in typed:
                _noop(df)
            edges = res.edges.cache()
            cached.append(edges)
            n_edges = edges.count()
        sp.attrs["node_rows"] = sum(df.count() for df in typed)
        sp.attrs["rows_out"] = sp.attrs["node_rows"] + n_edges
        with tr.span("serializer.render") as sp:
            atoms = res.atoms.cache()
            cached.append(atoms)
            sp.attrs["atoms_out"] = atoms.count()
        with tr.span("canonicalize.dedup") as sp:
            nodes = res.nodes.cache()
            cached.append(nodes)
            sp.attrs["nodes_out"] = nodes.count()
        with tr.span("pipeline.materialize"), \
                wrapped(tr, lineage, "write_partitioned", "lineage.write"), \
                wrapped(tr, lineage, "partition_manifest", "lineage.manifest"), \
                wrapped(tr, lineage, "write_manifest", "lineage.manifest"), \
                wrapped(tr, sinks, "write_metta_text", "sinks.metta_write"):
            return pipeline.materialize(pipeline.PipelineResult(nodes, edges, atoms),
                                        str(out), ctx.registry)

    def check(self, r: dict) -> tuple[list[str], dict]:
        out: Path = r["out"]
        bad = []
        for name, keys in (("nodes", ("label", "chr_part")), ("edges", ("label_part",))):
            written = json.loads((out / "_lineage" / f"{name}.json").read_text())
            got = Counter({tuple(p[k] for k in keys): p["n_rows"]
                           for p in written["partitions"]})
            if got != self.want_parts[name]:
                bad.append(f"{name} manifest counts differ from the generator")
            back = Counter({tuple(p[k] for k in keys): p["n_rows"]
                            for p in r["manifests"][name]})
            if back != got:
                bad.append(f"{name} manifest file differs from the rows read back")
        total, seen = 0, Counter()
        for part in sorted((out / "metta").glob("part-*")):
            with open(part, encoding="utf-8") as f:
                for line in f:
                    total += 1
                    atom = line.rstrip("\n")
                    if atom in self.want_sample:
                        seen[atom] += 1
        if total != self.want_atoms:
            bad.append(f"{total} atoms written, expected {self.want_atoms}")
        if seen != self.want_sample:
            missing = len(set(self.want_sample) - set(seen))
            bad.append(f"sampled atoms differ from py_write_node/py_write_edge "
                       f"({missing} missing of {len(self.want_sample)})")
        probes = []
        for (kind, _, want), (rows, ms) in zip(self.probes, r["answers"]):
            probes.append((kind, ms, len(rows)))
            if sorted(rows) != want:
                bad.append(f"{kind} probe returned {len(rows)} rows, expected {len(want)}")
        stats = {"atoms": total, "bytes": _tree_bytes(out), "build_s": r["build_s"],
                 "metta_bytes": _tree_bytes(out / "metta"), "probes": probes,
                 "partitions": sum(len(v) for v in r["manifests"].values())}
        shutil.rmtree(out, ignore_errors=True)
        return bad, stats

    def summary(self, runs: list[dict]) -> dict:
        build = statistics.median(r["build_s"] for r in runs)
        atoms = runs[0]["atoms"]
        lat = [ms for r in runs for _, ms, _ in r["probes"]]
        extra = {"docs_per_s": (self.corpus.n_docs / build, "1/s"),
                 "out_bytes_per_triple": (runs[0]["bytes"] / atoms, "B")}
        for kind in gen.PROBE_KINDS:
            extra[f"{kind}_p50_ms"] = (statistics.median(
                ms for r in runs for k, ms, _ in r["probes"] if k == kind), "ms")
        # the highest percentile with at least ten probes beyond it
        q = max(50, int(100 * (1 - 10 / len(lat))))
        extra[f"probe_p{q}_ms"] = (_p(lat, q / 100), "ms")
        extra["probe_samples"] = (len(lat), "count")
        return {"e2e": {"triples_per_s": atoms / build,
                        "op_p50_ms": 1000 * statistics.median(r["seconds"] for r in runs)},
                "extra": extra}


class LinkCanon:
    """Free text -> linking.build_mention_join -> entity_mention_counts;
    alias dims -> canonical_id_map -> canonicalize_nodes(salt_buckets)."""

    name = "link_canon"
    n_docs = 6_000
    n_entities = 3_000
    salt_buckets = 8

    def __init__(self, work: Path, seed: int, scale: int = 1):
        self.corpus = gen.LinkCorpus(seed, self.n_docs // scale, self.n_entities // scale)

    def prepare(self, spark) -> None:
        self.texts = self.corpus.texts()
        self.dictionary = self.corpus.dictionary()
        self.dim_rows = self.corpus.dims()
        self.want_canon = self.corpus.canonical()
        self.want_counts = gen.twin_mention_counts(self.texts, self.dictionary)
        self.want_nodes = {self.want_canon[e] for e in self.want_counts}

    def bind(self, spark) -> None:
        import pandas as pd

        self.spark = spark
        self.lines = spark.createDataFrame(
            pd.DataFrame(self.texts, columns=["doc_id", "value"])).cache()
        self.dims = [spark.createDataFrame(pd.DataFrame(rows, columns=["key", "value"])).cache()
                     for rows in self.dim_rows]
        for df in [self.lines] + self.dims:
            df.count()

    def release(self) -> None:
        for df in [self.lines] + self.dims:
            df.unpersist()

    def op(self, tr: Tracer) -> dict:
        from pyspark.sql import functions as F

        from biocypher_metta_spark import canonicalize, linking

        t0 = time.perf_counter()
        with tr.span("linking.link") as sp:
            link = linking.build_mention_join(self.spark, self.dictionary)
            linked = link(self.lines).cache()
            if tr.on:
                sp.attrs["mentions"] = linked.count()
        with tr.span("linking.agg"):
            counts = linking.entity_mention_counts(linked).collect()
        with tr.span("canonicalize.cc"):
            id_map = canonicalize.canonical_id_map(
                canonicalize.alias_edges_from_dims(*self.dims))
        with tr.span("canonicalize.remap"):
            nodes = linked.select(F.col("entity").alias("id"), F.lit("gene").alias("label"))
            canon = canonicalize.canonicalize_nodes(
                nodes, id_map, salt_buckets=self.salt_buckets).collect()
        dt = time.perf_counter() - t0
        linked.unpersist()
        return {"seconds": dt, "counts": counts, "canon": canon, "id_map": id_map}

    def udf_path(self, tr: Tracer) -> int:
        """The Arrow pandas-UDF linker on the same input (traced run only)."""
        from biocypher_metta_spark import linking

        with tr.span("linking.udf"):
            detect = linking.build_mention_udf(self.spark, self.dictionary)
            linked = linking.link_documents(self.lines, detect).cache()
            n = linked.count()
        linked.unpersist()
        return n

    def check(self, r: dict) -> tuple[list[str], dict]:
        bad = []
        got = {row["entity"]: (row["n_mentions"], row["score_sum"]) for row in r["counts"]}
        if set(got) != set(self.want_counts):
            bad.append(f"{len(got)} linked entities, DuckDB twin has {len(self.want_counts)}")
        elif any(got[e][0] != n or abs(got[e][1] - s) > 1e-6 * max(1, n)
                 for e, (n, s) in self.want_counts.items()):
            bad.append("entity mention counts differ from the DuckDB twin")
        ids = [row["id"] for row in r["canon"]]
        if len(ids) != len(set(ids)) or set(ids) != self.want_nodes:
            bad.append("canonical nodes differ from the planted components")
        id_map = {row["id"]: row["canonical_id"] for row in r["id_map"].collect()}
        if id_map != self.want_canon:
            bad.append("canonical_id_map differs from the planted components")
        mentions = sum(n for n, _ in got.values())
        return bad, {"triples": mentions}

    def summary(self, runs: list[dict]) -> dict:
        med = statistics.median(r["seconds"] for r in runs)
        return {"e2e": {"triples_per_s": runs[0]["triples"] / med, "op_p50_ms": med * 1000},
                "extra": {"docs_per_s": (self.corpus.n_docs / med, "1/s")}}


class Store:
    """The reference's probe queries over a materialized store."""

    def __init__(self, spark, root: Path):
        from pyspark.sql import functions as F

        self.nodes = spark.read.parquet(str(root / "nodes"))
        self.triples = spark.read.parquet(str(root / "edges")).select(
            F.col("src").alias("subj"), F.col("label_part").alias("pred"),
            F.col("tgt").alias("obj"))

    def probe(self, probe: tuple, tr: Tracer) -> tuple[list[tuple], float]:
        """(rows, milliseconds) for one planned probe."""
        from biocypher_metta_spark import query

        kind, args, _ = probe
        t0 = time.perf_counter()
        with tr.span("query.probe", kind=kind) as sp:
            with tr.span("query.plan"):
                if kind == "fetch":
                    df = query.fetch_node_properties(self.nodes, "gene", args[0])
                elif kind == "window":
                    df = query.genes_in_window(self.nodes, *args)
                else:
                    df = query.match_pattern(self.triples, [
                        (args[0], "transcribed_to", "$t"), ("$t", "transcribed_from", "$g")])
                if tr.on:
                    df._jdf.queryExecution().executedPlan()
            with tr.span("query.exec"):
                rows = [tuple(r) for r in df.collect()]
            if tr.on:
                sp.attrs["rows"] = len(rows)
        return rows, 1000 * (time.perf_counter() - t0)


WORKLOADS = {w.name: w for w in (GencodeBuild, LinkCanon)}
