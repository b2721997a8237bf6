"""A PipelineContext whose inputs are empty frames of the right shapes:
every PIPELINE_REGISTRY entry binds and plans on it without any source
files, so the whole entry table can be checked anywhere."""

from __future__ import annotations

from biocypher_metta_spark import pipeline
from biocypher_metta_spark.functions.liftover import make_liftover_udf
from biocypher_metta_spark.schema import load_default_registry
from biocypher_metta_spark.sources.documents import DOCUMENTS_SCHEMA

KEY_VALUE_DIMS = (
    "ensembl_to_uniprot", "entrez_to_ensembl", "hgnc_to_ensembl",
    "hgnc_ensembl_map", "ea_tissues", "roadmap_tissues", "abc_tissues",
    "gtex_tissues", "dbsuper_tissues", "peregrine_tissues", "dbsnp_pos",
)

# args an entry cannot be called without
REQUIRED_ARGS = {
    "parent_pathway_of": {"label": "parent_pathway_of"},
    "child_pathway_of": {"label": "child_pathway_of"},
    "topld": {"chr": "chr16", "ancestry": "EUR"},
    "ontology_nodes": {"label": "go"},
    "ontology_edges": {"label": "go_subtype_of"},
}


def _same_position(chr_no: str, pos: int):
    return [(chr_no, pos, "+")]


def stub_context(spark) -> pipeline.PipelineContext:
    def empty(name: str, ddl: str):
        # the alias names the dim in the analyzed plan, so plans that
        # read two same-shaped dims in swapped places differ
        return spark.createDataFrame([], ddl).alias(name)

    dims = {name: empty(name, "key string, value string") for name in KEY_VALUE_DIMS}
    dims.update(
        gene_alias=empty("gene_alias", "alias_key string, synonyms array<string>"),
        dbsnp_rsid=empty("dbsnp_rsid", "rsid string, chr string, pos long"),
        ontology_triples=empty(
            "ontology_triples",
            "subject string, predicate string, object string,"
            " subj_blank boolean, obj_blank boolean, obj_literal boolean"),
        liftover=make_liftover_udf(_same_position),
    )
    docs = spark.createDataFrame([], DOCUMENTS_SCHEMA)
    return pipeline.PipelineContext(spark, docs, load_default_registry(), dims)


def entry_config(name: str) -> list[dict]:
    return [{"adapter": name, "args": dict(REQUIRED_ARGS.get(name, {}))}]
