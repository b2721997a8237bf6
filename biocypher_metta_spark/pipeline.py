"""Config-driven KG construction pipeline — the Spark twin of
create_knowledge_graph.py:15-72.

The reference reflects adapter classes out of a YAML config and pulls
their generators through the writer one at a time, re-reading shared
files per entry (e.g. the GENCODE GTF 3-5x). Here each config entry
contributes a DataFrame fragment to ONE logical plan:

    documents spans ──┬─ span_lines(kind) ─ parse ─ extract ─┐
    dimensions ───────┴────── broadcast joins ───────────────┤
                                                   union ────┴─ canonicalize
                                                         ├─ triple table (partitioned, manifest)
                                                         └─ .metta shards + type_defs

The config-entry -> adapter mapping is one declarative table,
PIPELINE_REGISTRY: each `Entry` names an adapter function and lists its
inputs in call order (a span kind, a keyed span kind, a dim, an optional
dim, the parsed GTF, the parsed SwissProt records, the schema registry).
Only the entries with real wiring logic are functions (dbSUPER's shared
lifted scan, HOCOMOCO's model->TF join, GAF's optional RNAcentral map).
Every entry returns (typed, atoms); `build` tells edges from nodes by the
typed frame's columns.

Shared scans are cached once; Catalyst dedups the rest. Outputs are
written with dynamic partition overwrite + lineage manifests (resume).
"""

from __future__ import annotations

import functools
import importlib
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from biocypher_metta_spark import lineage, sinks
from biocypher_metta_spark.canonicalize import dedup_nodes
from biocypher_metta_spark.schema import SchemaRegistry, load_default_registry
from biocypher_metta_spark.sources.documents import span_lines
from biocypher_metta_spark.sources.gtf import GENE_KEYS, parse_gtf


@dataclass
class PipelineContext:
    spark: SparkSession
    docs: DataFrame
    registry: SchemaRegistry = field(default_factory=load_default_registry)
    dims: dict[str, DataFrame] = field(default_factory=dict)
    _cache: dict = field(default_factory=dict)

    def gtf(self, kind: str = "gtf", keys=None) -> DataFrame:
        """Parsed GTF lines for a span kind — cached so gene/transcript/
        exon/edge outputs share ONE scan (the reference re-reads the file
        per config entry; SURVEY §4)."""
        k = (kind, tuple(keys or GENE_KEYS))
        if k not in self._cache:
            df = parse_gtf(span_lines(self.docs, kind), keys=list(k[1])).cache()
            self._cache[k] = df
        return self._cache[k]

    def lines(self, kind: str) -> DataFrame:
        return span_lines(self.docs, kind)

    def lines_keyed(self, prefix: str, key_col: str) -> DataFrame:
        """S9 fan-in via span kinds: spans tagged '<prefix>:<key>' (e.g.
        'pwm:ATF1_HUMAN.H11MO.0.B', 'gtex:Adipose_Subcutaneous') become
        lines carrying the key as a column — the Spark twin of
        filename-carries-the-key directory scans."""
        from biocypher_metta_spark.sources.documents import explode_spans

        sp = explode_spans(self.docs).filter(
            F.col("kind").startswith(prefix + ":"))
        return sp.select(
            "doc_id", "offset", F.col("text").alias("value"),
            F.expr(f"substring(kind, {len(prefix) + 2})").alias(key_col))

    def cached(self, key, builder):
        if key not in self._cache:
            df = builder().cache()
            self._cache[key] = df
        return self._cache[key]


# ---------------------------------------------------------------------------
# entry table
# ---------------------------------------------------------------------------
# An adapter input is a tagged tuple that _resolve turns into a frame of the
# context. The table holds only data, so the span kinds and dims an entry
# reads can be listed without binding it.


def span(kind: str) -> tuple:
    """The lines of one span kind."""
    return ("span", kind)


def keyed_span(prefix: str, key_col: str) -> tuple:
    """The lines of every '<prefix>:<key>' span kind, the key in `key_col`."""
    return ("keyed_span", prefix, key_col)


def dim(name: str) -> tuple:
    return ("dim", name)


def opt_dim(name: str) -> tuple:
    """A dim the adapter can do without (None when the context lacks it)."""
    return ("opt_dim", name)


def gtf(keys: tuple = tuple(GENE_KEYS)) -> tuple:
    """The cached parsed GTF with these attribute keys."""
    return ("gtf", keys)


SWISS = ("swiss",)  # the cached parsed SwissProt records
SCHEMA_REGISTRY = ("registry",)  # passed as `registry=`, whatever its place


def _resolve(ctx: PipelineContext, inp: tuple):
    source, *rest = inp
    if source == "span":
        return ctx.lines(*rest)
    if source == "keyed_span":
        return ctx.lines_keyed(*rest)
    if source == "dim":
        return ctx.dims[rest[0]]
    if source == "opt_dim":
        return ctx.dims.get(rest[0])
    if source == "gtf":
        return ctx.gtf(keys=list(rest[0]))
    if source == "swiss":
        from biocypher_metta_spark.sources.swiss import parse_swiss_spans

        return ctx.cached("swiss_records",
                          lambda: parse_swiss_spans(ctx.lines("swiss_record")))
    raise ValueError(f"unknown adapter input {inp!r}")


@dataclass(frozen=True)
class Entry:
    """One config entry: `adapters.<module>.<function>` called with its
    inputs resolved in order, then `fixed` and the entry's config args as
    keywords. Returns the adapter's (typed, atoms)."""
    fn: str
    inputs: tuple = ()
    fixed: dict = field(default_factory=dict)

    def __call__(self, ctx: PipelineContext, **args):
        mod_name, fn_name = self.fn.rsplit(".", 1)
        mod = importlib.import_module(f"biocypher_metta_spark.adapters.{mod_name}")
        frames = []
        for inp in self.inputs:
            if inp == SCHEMA_REGISTRY:
                args["registry"] = ctx.registry
            else:
                frames.append(_resolve(ctx, inp))
        return getattr(mod, fn_name)(*frames, **self.fixed, **args)


# the few entries whose wiring is more than resolving inputs


def _lifted_dbsuper(ctx: PipelineContext, args: dict):
    """(liftover, lifted dbSUPER rows): the lifted scan is shared between
    the node and edge entries (one Arrow liftover pass instead of two)."""
    from biocypher_metta_spark.adapters import regulatory as reg

    lift = ctx.dims["liftover"]  # a liftover(chr,pos) callable
    window = (args.get("chr"), args.get("start"), args.get("end"))
    return lift, ctx.cached(("dbsuper_base", window), lambda: reg._dbsuper_base(
        ctx.lines("dbsuper"), lift, *window))


def _dbsuper_nodes(ctx: PipelineContext, **args):
    from biocypher_metta_spark.adapters import regulatory as reg

    lift, base = _lifted_dbsuper(ctx, args)
    return reg.dbsuper_nodes(None, lift, base=base, **args)


def _dbsuper_edges(ctx: PipelineContext, **args):
    from biocypher_metta_spark.adapters import regulatory as reg

    lift, base = _lifted_dbsuper(ctx, args)
    return reg.dbsuper_edges(None, lift, ctx.dims["hgnc_to_ensembl"],
                             ctx.dims["dbsuper_tissues"], ctx.registry,
                             base=base, **args)


def _hocomoco(ctx: PipelineContext, **args):
    """PWM rows keyed by model, joined to their TF via the annotation file."""
    import biocypher_metta_spark.adapters.annotations as ann

    lines = ctx.lines_keyed("pwm", "model").withColumn(
        "row_order", F.col("offset"))
    model_tf = ann.parse_model_tf(ctx.lines("hocomoco_annotation"))
    return ann.hocomoco_motif_nodes(
        lines, model_tf, ctx.dims["hgnc_to_ensembl"], **args)


def _gaf(ctx: PipelineContext, gaf_type="human", **args):
    """GO annotations; the RNA flavour maps RNAcentral ids to GENCODE."""
    import biocypher_metta_spark.adapters.annotations as ann

    rmap = None
    if gaf_type == "rna":
        rmap = ann.parse_rnacentral_gencode_map(ctx.lines("rnacentral_map"))
    return ann.gaf_edges(ctx.lines("gaf"), ctx.registry,
                         gaf_type=gaf_type, rnacentral_map=rmap, **args)


# entry name -> callable(ctx, **args) -> (typed_df, atoms_df); build tells
# edges (src, tgt) from nodes (id) by the typed frame's columns
PIPELINE_REGISTRY = {
    # gencode family (shared cached GTF scan)
    "gencode_gene": Entry("gencode.gene_nodes", (gtf(), opt_dim("gene_alias"))),
    "gencode_transcript": Entry("gencode.transcript_nodes", (gtf(),)),
    "gencode_exon": Entry("gencode.exon_nodes",
                          (gtf((*GENE_KEYS, "exon_number", "exon_id")),)),
    "transcribed_to": Entry("gencode.transcribed_edges", (gtf(), SCHEMA_REGISTRY),
                            {"direction": "to"}),
    "transcribed_from": Entry("gencode.transcribed_edges", (gtf(), SCHEMA_REGISTRY),
                              {"direction": "from"}),
    # variants
    "dbsnp": Entry("variants.dbsnp_nodes", (span("vcf"),)),
    "dbvar": Entry("variants.dbvar_nodes", (span("vcf"),)),
    "dgv": Entry("variants.dgv_nodes", (span("dgv"),)),
    "favor": Entry("variants.favor_nodes", (span("favor"),)),
    # reactome
    "pathway": Entry("pathways.pathway_nodes",
                     (span("reactome_pathways"), span("reactome_pmids"))),
    "genes_pathways": Entry("pathways.genes_pathways_edges",
                            (span("reactome_gene_map"), SCHEMA_REGISTRY)),
    "parent_pathway_of": Entry("pathways.pathway_rel_edges",
                               (span("reactome_relations"), SCHEMA_REGISTRY)),
    "child_pathway_of": Entry("pathways.pathway_rel_edges",
                              (span("reactome_relations"), SCHEMA_REGISTRY)),
    # interactions
    "string": Entry("interactions.string_ppi_edges",
                    (span("string"), dim("ensembl_to_uniprot"), SCHEMA_REGISTRY)),
    "tflink": Entry("interactions.tflink_edges",
                    (span("tflink"), dim("entrez_to_ensembl"), SCHEMA_REGISTRY)),
    "coexpression": Entry("interactions.coxpresdb_edges",
                          (keyed_span("coxpresdb", "file_entrez"),
                           dim("entrez_to_ensembl"), SCHEMA_REGISTRY)),
    # regulatory
    "epd_promoter": Entry("regulatory.epd_promoter_nodes", (span("epd"),)),
    "epd_promoter_gene": Entry("regulatory.epd_promoter_gene_edges",
                               (span("epd"), dim("hgnc_to_ensembl"), SCHEMA_REGISTRY)),
    "enhancer_atlas": Entry("regulatory.enhancer_atlas_nodes", (span("ea_bed"),)),
    "enhancer_atlas_gene": Entry("regulatory.enhancer_atlas_edges",
                                 (keyed_span("ea_gene", "tissue"), dim("ea_tissues"),
                                  SCHEMA_REGISTRY)),
    "tadmap": Entry("regulatory.tadmap_nodes", (span("tadmap"),)),
    "dbsuper": _dbsuper_nodes,
    "dbsuper_gene": _dbsuper_edges,
    "peregrine": Entry("regulatory.peregrine_nodes",
                       (span("peregrine_enhancers"), span("peregrine_sources"))),
    "peregrine_gene": Entry("regulatory.peregrine_edges",
                            (span("peregrine_enhancers"), span("peregrine_links"),
                             dim("hgnc_ensembl_map"), dim("peregrine_tissues"),
                             SCHEMA_REGISTRY)),
    # annotations
    "rna_central": Entry("annotations.rna_central_nodes", (span("rna_bed"),)),
    "rna_central_go": Entry("annotations.rna_central_go_edges",
                            (span("rna_rfam"), SCHEMA_REGISTRY)),
    "hocomoco": _hocomoco,
    "gaf": _gaf,
    "uniprot_protein": Entry("annotations.uniprot_protein_nodes", (SWISS,)),
    "uniprot_translates": Entry("annotations.uniprot_translation_edges",
                                (SWISS, SCHEMA_REGISTRY)),
    # forgedb family (dbsnp rsid dimension)
    "roadmap": Entry("forgedb.roadmap_nodes",
                     (span("roadmap"), dim("roadmap_tissues"), dim("dbsnp_rsid"))),
    "abc": Entry("forgedb.abc_nodes",
                 (span("abc"), dim("abc_tissues"), dim("dbsnp_rsid"))),
    "abc_gene": Entry("forgedb.abc_edges",
                      (span("abc"), dim("hgnc_to_ensembl"), dim("abc_tissues"),
                       dim("dbsnp_rsid"))),
    "cadd": Entry("forgedb.cadd_nodes", (span("cadd"), dim("dbsnp_rsid"))),
    "refseq_closest_gene": Entry("forgedb.refseq_closest_gene_edges",
                                 (span("closest_gene"), dim("hgnc_to_ensembl"),
                                  dim("dbsnp_rsid"))),
    "topld": Entry("forgedb.topld_edges",
                   (span("topld"), dim("dbsnp_pos"), SCHEMA_REGISTRY)),
    "gtex_eqtl": Entry("forgedb.gtex_eqtl_edges",
                       (keyed_span("gtex", "tissue"), dim("gtex_tissues"),
                        SCHEMA_REGISTRY)),
    # ontology (the config names the label)
    "ontology_nodes": Entry("ontology.ontology_nodes", (dim("ontology_triples"),)),
    "ontology_edges": Entry("ontology.ontology_edges",
                            (dim("ontology_triples"), SCHEMA_REGISTRY)),
}


@dataclass
class PipelineResult:
    nodes: DataFrame | None
    edges: DataFrame | None
    atoms: DataFrame


def _union(parts: list[DataFrame]) -> DataFrame | None:
    """By name; node parts differ in their optional chr/start/end."""
    if not parts:
        return None
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def build(ctx: PipelineContext, config: list[dict]) -> PipelineResult:
    """config entries: {adapter: <registry name>, args: {...}} — ordered
    like adapters_config.yaml; order only affects nothing (set-semantics
    outputs), unlike the reference's append files."""
    node_parts: list[DataFrame] = []
    edge_parts: list[DataFrame] = []
    atom_parts: list[DataFrame] = []
    for entry in config:
        typed, atoms = PIPELINE_REGISTRY[entry["adapter"]](ctx, **entry.get("args", {}))
        atom_parts.append(atoms)
        if "src" in typed.columns:
            edge_parts.append(typed.select("src", "tgt", "label"))
        else:
            opt = [c for c in ("chr", "start", "end") if c in typed.columns]
            node_parts.append(typed.select("id", "label", *opt))
    nodes = _union(node_parts)
    if nodes is not None:
        nodes = dedup_nodes(nodes)
    return PipelineResult(nodes, _union(edge_parts), _union(atom_parts))


def _written_manifest(df: DataFrame, path: str, partition_by: list[str]) -> list[dict]:
    """Fingerprint what actually LANDED at `path` (where `df` was
    written), not the logical plan: verifies the write itself and avoids
    re-deriving the full adapter union a second time (the manifest scan
    is a cheap columnar read-back). The read-back takes `df`'s data
    columns and the partition columns as string, so partition-value
    inference cannot retype values or strip zero-padded ones, and an
    empty write (only _SUCCESS) reads as 0 rows."""
    schema = StructType([f for f in df.schema.fields if f.name not in partition_by]
                        + [StructField(p, StringType()) for p in partition_by])
    return lineage.partition_manifest(
        df.sparkSession.read.schema(schema).parquet(path), partition_by)


def materialize(result: PipelineResult, out_dir: str, registry: SchemaRegistry,
                run_id: str = "run") -> dict:
    """Write all outputs + lineage manifests; returns the manifest dict."""
    out = Path(out_dir)
    manifests = {}
    if result.nodes is not None:
        ndf = result.nodes.withColumn(
            "chr_part", F.coalesce(F.col("chr"), F.lit("none"))) \
            if "chr" in result.nodes.columns else \
            result.nodes.withColumn("chr_part", F.lit("none"))
        lineage.write_partitioned(ndf, str(out / "nodes"), ["label", "chr_part"])
        manifests["nodes"] = _written_manifest(
            ndf, str(out / "nodes"), ["label", "chr_part"])
    if result.edges is not None:
        edf = result.edges.withColumn("label_part", F.col("label"))
        lineage.write_partitioned(edf, str(out / "edges"), ["label_part"])
        manifests["edges"] = _written_manifest(edf, str(out / "edges"), ["label_part"])
    sinks.write_metta_text(result.atoms, str(out / "metta"))
    (out / "type_defs.metta").parent.mkdir(parents=True, exist_ok=True)
    (out / "type_defs.metta").write_text(registry.type_defs_text())
    for name, rows in manifests.items():
        lineage.write_manifest(rows, str(out / f"_lineage/{name}.json"), run_id)
    return manifests


# ---------------------------------------------------------------------------
# reference adapters_config.yaml translation
# ---------------------------------------------------------------------------

# reference module.cls (+ discriminating args) -> registry adapter name
_REF_CLS_MAP = {
    ("gencode_gene_adapter", "GencodeGeneAdapter"): "gencode_gene",
    ("gencode_adapter", "GencodeAdapter", "transcript"): "gencode_transcript",
    ("gencode_adapter", "GencodeAdapter", "transcribed to"): "transcribed_to",
    ("gencode_adapter", "GencodeAdapter", "transcribed from"): "transcribed_from",
    ("gencode_exon_adapter", "GencodeExonAdapter"): "gencode_exon",
    ("dbsnp_adapter", "DBSNPAdapter"): "dbsnp",
    ("dbvar_adapter", "DBVarVariantAdapter"): "dbvar",
    ("dgv_variant_adapter", "DGVVariantAdapter"): "dgv",
    ("favor_adapter", "FavorAdapter"): "favor",
    ("reactome_pathway_adapter", "ReactomePathwayAdapter"): "pathway",
    ("reactome_adapter", "ReactomeAdapter", "genes_pathways"): "genes_pathways",
    ("reactome_adapter", "ReactomeAdapter", "parent_pathway_of"): "parent_pathway_of",
    ("reactome_adapter", "ReactomeAdapter", "child_pathway_of"): "child_pathway_of",
    ("string_ppi_adapter", "StringPPIAdapter"): "string",
    ("tflink_adapter", "TFLinkAdapter"): "tflink",
    ("coxpresdb_adapter", "CoxpresdbAdapter"): "coexpression",
    ("epd_adapter", "EPDAdapter", "promoter"): "epd_promoter",
    ("epd_adapter", "EPDAdapter", "promoter to gene association"): "epd_promoter_gene",
    ("enhancer_atlas_adapter", "EnhancerAtlasAdapter", "enhancer"): "enhancer_atlas",
    ("enhancer_atlas_adapter", "EnhancerAtlasAdapter",
     "enhancer to gene association"): "enhancer_atlas_gene",
    ("tadmap_adapter", "TADMapAdapter"): "tadmap",
    ("dbsuper_adapter", "DBSuperAdapter", "super enhancer"): "dbsuper",
    ("dbsuper_adapter", "DBSuperAdapter",
     "super enhancer to gene association"): "dbsuper_gene",
    ("peregrine_adapter", "PEREGRINEAdapter", "enhancer"): "peregrine",
    ("peregrine_adapter", "PEREGRINEAdapter",
     "enhancer to gene association"): "peregrine_gene",
    ("rna_central_adapter", "RNACentralAdapter", "non coding rna"): "rna_central",
    ("rna_central_adapter", "RNACentralAdapter", "go rna"): "rna_central_go",
    ("hocomoco_motif_adapter", "HoCoMoCoMotifAdapter"): "hocomoco",
    ("gaf_adapter", "GAFAdapter"): "gaf",
    ("uniprot_protein_adapter", "UniprotProteinAdapter"): "uniprot_protein",
    ("uniprot_adapter", "UniprotAdapter", "translates to"): "uniprot_translates",
    ("uniprot_adapter", "UniprotAdapter", "translation of"): "uniprot_translates",
    ("roadmap_adapter", "RoadMapAdapter"): "roadmap",
    ("abc_adapter", "ABCAdapter", "node"): "abc",
    ("abc_adapter", "ABCAdapter", "edge"): "abc_gene",
    ("cadd_adapter", "CADDAdapter"): "cadd",
    ("refseq_closest_gene_adapter", "RefSeqClosestGeneAdapter"): "refseq_closest_gene",
    ("topld_adapter", "TopLDAdapter"): "topld",
    ("gtex_eqtl_adapter", "GTExEQTLAdapter"): "gtex_eqtl",
    ("gene_ontology_adapter", "GeneOntologyAdapter", "node"): "ontology_nodes",
    ("gene_ontology_adapter", "GeneOntologyAdapter", "edge"): "ontology_edges",
    ("uberon_adapter", "UberonAdapter", "node"): "ontology_nodes",
    ("uberon_adapter", "UberonAdapter", "edge"): "ontology_edges",
    ("cell_line_ontology_adapter", "CellLineOntologyAdapter", "node"): "ontology_nodes",
    ("cell_line_ontology_adapter", "CellLineOntologyAdapter", "edge"): "ontology_edges",
    # defaults when the config omits the discriminating type/label arg
    ("rna_central_adapter", "RNACentralAdapter"): "rna_central",
    ("epd_adapter", "EPDAdapter"): "epd_promoter",
    ("enhancer_atlas_adapter", "EnhancerAtlasAdapter"): "enhancer_atlas",
    ("dbsuper_adapter", "DBSuperAdapter"): "dbsuper",
    ("peregrine_adapter", "PEREGRINEAdapter"): "peregrine",
}

# args carried over from the reference config into our adapter kwargs
_PASSTHROUGH_ARGS = {"chr", "start", "end", "label", "ancestry", "cutoff",
                     "gaf_type", "ontology", "dry_run"}


def translate_reference_config(path: str | Path) -> list[dict]:
    """Parse a reference adapters_config YAML into this engine's config.

    File paths are intentionally DROPPED: in the span model the data
    arrives via the documents table keyed by span kind, and dimension
    pickles via PipelineContext.dims. What survives translation is the
    adapter identity and its semantic args (window, labels, ancestry,
    cutoffs). create_knowledge_graph.py:42-72 twin.
    """
    import yaml

    with open(path) as f:
        cfg = yaml.safe_load(f)
    out: list[dict] = []
    for entry in cfg.values():
        ad = entry.get("adapter", {})
        module = ad.get("module", "").rsplit(".", 1)[-1]
        cls = ad.get("cls", "")
        args = ad.get("args") or {}
        disc = args.get("type") or args.get("label")
        name = _REF_CLS_MAP.get((module, cls, disc)) if disc else None
        if name is None:
            name = _REF_CLS_MAP.get((module, cls))
        if name is None:
            raise KeyError(f"no registry mapping for {module}.{cls} ({disc})")
        kwargs = {k: v for k, v in args.items()
                  if k in _PASSTHROUGH_ARGS and v is not None}
        if name in ("uniprot_translates",) and args.get("type"):
            kwargs["direction"] = args["type"].replace(" ", "_")
            kwargs.pop("label", None)
        if name in ("parent_pathway_of", "child_pathway_of"):
            kwargs["label"] = name
        if name in ("gencode_transcript", "gencode_gene", "gencode_exon",
                    "transcribed_to", "transcribed_from", "dbsnp", "cadd",
                    "roadmap", "abc", "abc_gene", "refseq_closest_gene",
                    "gtex_eqtl"):
            kwargs.pop("label", None)
        if name == "gaf":
            kwargs.pop("label", None)
        out.append({"adapter": name, "args": kwargs})
    return out
