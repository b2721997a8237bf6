"""Every PIPELINE_REGISTRY entry, bound and planned on the empty stub
context of tests/pipeline_stub.py — covers the whole entry table without
any source files."""

from __future__ import annotations

import pytest

from biocypher_metta_spark import pipeline
from tests.pipeline_stub import entry_config, stub_context

EDGE_ENTRIES = {
    "transcribed_to", "transcribed_from", "genes_pathways",
    "parent_pathway_of", "child_pathway_of", "string", "tflink",
    "coexpression", "epd_promoter_gene", "enhancer_atlas_gene",
    "dbsuper_gene", "peregrine_gene", "rna_central_go", "gaf",
    "uniprot_translates", "abc_gene", "refseq_closest_gene", "topld",
    "gtex_eqtl", "ontology_edges",
}


@pytest.fixture(scope="module")
def stub_ctx(spark):
    return stub_context(spark)


@pytest.mark.parametrize("name", list(pipeline.PIPELINE_REGISTRY))
def test_entry_yields_atoms_and_one_of_nodes_or_edges(stub_ctx, name):
    res = pipeline.build(stub_ctx, entry_config(name))
    assert res.atoms.columns == ["atom"]
    if name in EDGE_ENTRIES:
        assert res.nodes is None
        assert res.edges.columns == ["src", "tgt", "label"]
    else:
        assert res.edges is None
        assert res.nodes.columns[:2] == ["id", "label"]


def test_all_entries_union_into_one_plan(stub_ctx):
    config = [c for name in pipeline.PIPELINE_REGISTRY for c in entry_config(name)]
    res = pipeline.build(stub_ctx, config)
    assert set(res.nodes.columns) == {"id", "label", "chr", "start", "end"}
    assert res.edges.columns == ["src", "tgt", "label"]
    assert res.atoms.columns == ["atom"]
