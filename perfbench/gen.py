"""Seeded inputs for the workloads and the outputs they must produce.

Every generator is a pure function of (seed, size): the same seed gives the
same rows. The Spark side of each corpus is a DataFrame built from
``spark.range`` or pandas, so the engine under test only ever receives
DataFrames. The expected outputs come from Python twins of the same
formulas (GTF corpus, probe answers) or from an independent DuckDB query
(mention counts), never from the engine itself.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from functools import cached_property

import numpy as np

GENE_TYPES = ("protein_coding", "lncRNA", "miRNA")
CHROM_SPAN = 50_000_000
N_CHROM = 22
SOURCE = "GENCODE"
SOURCE_URL = "https://www.gencodegenes.org/human/"
GENCODE_CONFIG = [{"adapter": a} for a in (
    "gencode_gene", "gencode_transcript", "transcribed_to", "transcribed_from")]


# ---------------------------------------------------------------------------
# GTF documents (gencode_build)
# ---------------------------------------------------------------------------
# Doc i carries a gene line, a media span and a transcript line. The gene
# is g = gene_base + i % n_genes, so each gene recurs in ~n_docs/n_genes
# docs with identical attributes; the transcript t = tx_base + i is unique.

_G = "({gb} + i % {ng})"
_T = "({tb} + i)"
_GENE_SQL = {
    "chr": "concat('chr', cast(1 + {g} % 22 as string))",
    "start": "(1 + ({g} * 9973) % 50000000)",
    "end": "(1 + ({g} * 9973) % 50000000 + 100 + {g} % 5000)",
    "gid": "concat('ENSG', lpad(cast({g} as string), 11, '0'), '.', cast(1 + {g} % 9 as string))",
    "gtype": "element_at(array('protein_coding', 'lncRNA', 'miRNA'), cast({g} % 3 as int) + 1)",
    "gname": "concat('G', lpad(cast({g} as string), 11, '0'))",
    "tid": "concat('ENST', lpad(cast({t} as string), 11, '0'), '.', cast(1 + {t} % 9 as string))",
    "tname": "concat('T', lpad(cast({t} as string), 11, '0'))",
    "tstart": "(1 + ({g} * 9973) % 50000000 + i % 97)",
}
_GENE_LINE = ("concat({chr}, '\\tHAVANA\\tgene\\t', cast({start} as string), '\\t', "
              "cast({end} as string), '\\t.\\t+\\t.\\tgene_id \"', {gid}, "
              "'\"; gene_type \"', {gtype}, '\"; gene_name \"', {gname}, '\";')")
_TX_LINE = ("concat({chr}, '\\tHAVANA\\ttranscript\\t', cast({tstart} as string), '\\t', "
            "cast({end} as string), '\\t.\\t+\\t.\\tgene_id \"', {gid}, "
            "'\"; transcript_id \"', {tid}, '\"; gene_type \"', {gtype}, "
            "'\"; gene_name \"', {gname}, '\"; transcript_type \"', {gtype}, "
            "'\"; transcript_name \"', {tname}, '\";')")


@dataclass(frozen=True)
class GtfCorpus:
    seed: int
    n_docs: int
    n_genes: int

    # ids are zero-padded to 11 digits, so the offsets wrap to stay below
    @property
    def gene_base(self) -> int:
        return 1 + self.seed % 99_991 * 100_003

    @property
    def tx_base(self) -> int:
        return 1 + self.seed % 9_973 * 10_000_019

    def documents(self, spark):
        """The interleaved documents table (text, media, text per doc)."""
        from pyspark.sql import functions as F

        g = _G.format(gb=self.gene_base, ng=self.n_genes)
        t = _T.format(tb=self.tx_base)
        exprs = {k: v.format(g=g, t=t) for k, v in _GENE_SQL.items()}
        gene_line = F.expr(_GENE_LINE.format(**exprs))
        tx_line = F.expr(_TX_LINE.format(**exprs))
        doc_id = F.concat(F.lit(f"d{self.seed}-"), F.col("i").cast("string"))
        null = F.lit(None).cast("string")

        def span(kind, text, media, offset):
            return F.struct(F.lit(kind).alias("kind"), text.alias("text"),
                            media.alias("media_ref"),
                            F.lit(offset).cast("int").alias("offset"))

        return spark.range(self.n_docs).select(F.col("id").alias("i")).select(
            doc_id.alias("doc_id"),
            F.array(span("gtf", gene_line, null, 0),
                    span("image", null,
                         F.concat(F.lit("media://img/"), doc_id), 1),
                    span("gtf", tx_line, null, 2)).alias("spans"))

    # -- Python twin -------------------------------------------------------

    def gene(self, g: int) -> dict:
        start = 1 + (g * 9973) % CHROM_SPAN
        return {"id": f"ENSG{g:011d}", "chr": f"chr{1 + g % N_CHROM}",
                "start": start, "end": start + 100 + g % 5000,
                "gene_type": GENE_TYPES[g % 3], "gene_name": f"G{g:011d}"}

    def gene_of_doc(self, i: int) -> int:
        return self.gene_base + i % self.n_genes

    def transcript(self, i: int) -> dict:
        gene = self.gene(self.gene_of_doc(i))
        t = self.tx_base + i
        return {"id": f"ENST{t:011d}", "version_id": f"ENST{t:011d}.{1 + t % 9}",
                "name": f"T{t:011d}", "chr": gene["chr"],
                "start": gene["start"] + i % 97, "end": gene["end"],
                "type": gene["gene_type"], "gene_name": gene["gene_name"]}

    @cached_property
    def genes(self) -> np.ndarray:
        """Distinct gene numbers present in the corpus."""
        return self.gene_base + np.arange(min(self.n_docs, self.n_genes))

    def docs_per_gene(self, g: int) -> int:
        k = g - self.gene_base
        return self.n_docs // self.n_genes + (1 if k < self.n_docs % self.n_genes else 0)

    def doc_atoms(self, i: int, registry) -> tuple[list[str], list[str]]:
        """(gene atoms, transcript + edge atoms) doc i renders, through the
        serializer's pure-Python writer twin."""
        from biocypher_metta_spark.serializer import py_write_edge, py_write_node

        gene = self.gene(self.gene_of_doc(i))
        tx = self.transcript(i)
        prov = {"source": SOURCE, "source_url": SOURCE_URL}
        gene_atoms = py_write_node((gene["id"], "gene", {
            "gene_type": gene["gene_type"], "chr": gene["chr"],
            "start": gene["start"], "end": gene["end"],
            "gene_name": gene["gene_name"], "synonyms": None, **prov}))
        other = py_write_node((tx["id"], "transcript", {
            "transcript_id": tx["version_id"], "transcript_name": tx["name"],
            "transcript_type": tx["type"], "chr": tx["chr"],
            "start": tx["start"], "end": tx["end"],
            "gene_name": tx["gene_name"], **prov}))
        other += py_write_edge((gene["id"], tx["id"], "transcribed_to", prov), registry)
        other += py_write_edge((tx["id"], gene["id"], "transcribed_from", prov), registry)
        return gene_atoms, other

    def expected_atoms(self, registry) -> int:
        """Closed-form atom count: every doc renders the same atom shapes
        (no attribute is ever empty), and atoms are not deduplicated."""
        gene_atoms, other = self.doc_atoms(0, registry)
        return self.n_docs * (len(gene_atoms) + len(other))

    def expected_partitions(self) -> dict[str, Counter]:
        """Row counts per lineage partition, keyed like the manifests."""
        chrom = lambda g: f"chr{1 + int(g) % N_CHROM}"  # noqa: E731
        nodes = Counter()
        for g in self.genes:
            nodes[("gene", chrom(g))] += 1
        tx_genes = self.gene_base + np.arange(self.n_docs) % self.n_genes
        chroms, counts = np.unique(1 + tx_genes % N_CHROM, return_counts=True)
        for c, n in zip(chroms, counts):
            nodes[("transcript", f"chr{c}")] += int(n)
        edges = Counter({("transcribed_to",): self.n_docs,
                         ("transcribed_from",): self.n_docs})
        return {"nodes": nodes, "edges": edges}

    def atom_sample(self, registry, k: int = 16) -> Counter:
        """Expected multiplicity of every atom of k seeded sample docs."""
        rng = np.random.default_rng([self.seed, 1])
        want = Counter()
        for i in rng.choice(self.n_docs, size=min(k, self.n_docs), replace=False):
            gene_atoms, other = self.doc_atoms(int(i), registry)
            reps = self.docs_per_gene(self.gene_of_doc(int(i)))
            for a in gene_atoms:
                want[a] = reps
            for a in other:
                want[a] = 1
        return want


# ---------------------------------------------------------------------------
# the reference's probe queries over a GtfCorpus store
# ---------------------------------------------------------------------------

PROBE_KINDS = ("fetch", "window", "match")
PROBE_WEIGHTS = (0.4, 0.4, 0.2)
WINDOW_BP = 2_000_000


def probe_plan(corpus: GtfCorpus, n: int) -> list[tuple]:
    """n seeded probes in the PROBE_WEIGHTS mix: (kind, args, expected
    sorted rows)."""
    rng = np.random.default_rng([corpus.seed, 2])
    genes = corpus.genes
    info = [corpus.gene(int(g)) for g in genes]
    starts = np.array([x["start"] for x in info])
    ends = np.array([x["end"] for x in info])
    chrs = np.array([1 + int(g) % N_CHROM for g in genes])
    kinds = [k for k, w in zip(PROBE_KINDS, PROBE_WEIGHTS) for _ in range(round(n * w))]
    plan = []
    for kind in kinds:
        if kind == "window":
            c = int(rng.integers(1, N_CHROM + 1))
            s = int(rng.integers(0, CHROM_SPAN - WINDOW_BP))
            e = s + WINDOW_BP
            hit = np.flatnonzero((chrs == c) & (starts > s) & (ends < e))
            rows = sorted((info[j]["id"], f"chr{c}", info[j]["start"], info[j]["end"])
                          for j in hit)
            plan.append((kind, (f"chr{c}", s, e), rows))
            continue
        g = int(genes[rng.integers(len(genes))])
        gene = corpus.gene(g)
        if kind == "fetch":
            subj = f"(gene {gene['id']})"
            props = [(p, str(gene[p])) for p in ("chr", "start", "end")]
            rows = sorted((subj, "gene", gene["id"], p, v)
                          for p, v in props + [("chr_part", gene["chr"])])
            plan.append((kind, (gene["id"],), rows))
        else:
            k = g - corpus.gene_base
            docs = range(k, corpus.n_docs, corpus.n_genes)
            rows = sorted((corpus.transcript(i)["id"], gene["id"]) for i in docs)
            plan.append((kind, (gene["id"],), rows))
    return plan


# ---------------------------------------------------------------------------
# free text + alias graph (link_canon)
# ---------------------------------------------------------------------------
# Entity e has four ids. Three id-map dimensions join each alias to the
# Ensembl accession (a star, as real id maps are):
#   HGNC:e -> ENSG<e>,  NCBI:e -> ENSG<e>,  UNIPROT:e -> ENSG<e>
# and every 10th entity's UNIPROT id also maps to the previous entity's
# ENSG id, merging the two stars. The canonical id of a component is its
# lexicographically smallest member, which is always an ENSG id.

_FILLER = 1000
_FORMS = ("symbol", "folded", "multi", "accession")
_FORM_P = (0.5, 0.15, 0.2, 0.15)


@dataclass(frozen=True)
class LinkCorpus:
    seed: int
    n_docs: int
    n_entities: int
    tokens_per_doc: int = 40
    mentions_per_doc: int = 4
    zipf_s: float = 1.1

    @property
    def base(self) -> int:
        return 1 + self.seed % 99_991 * 100_003

    @staticmethod
    def ids(e: int) -> dict[str, str]:
        return {"ensg": f"ENSG{e:011d}", "hgnc": f"HGNC:{e}",
                "ncbi": f"NCBI:{e}", "uniprot": f"UNIPROT:{e}"}

    @staticmethod
    def surfaces(e: int) -> dict[str, str]:
        return {"symbol": f"GX{e}", "multi": f"tumor protein P{e}",
                "accession": f"UP{e}"}

    def _entities(self) -> range:
        return range(self.base, self.base + self.n_entities)

    def dictionary(self) -> dict[str, str]:
        """surface form -> entity id (three alias systems per entity)."""
        out = {}
        for e in self._entities():
            ids, sf = self.ids(e), self.surfaces(e)
            out[sf["symbol"]] = ids["hgnc"]
            out[sf["multi"]] = ids["ensg"]
            out[sf["accession"]] = ids["uniprot"]
        return out

    def dims(self) -> list[list[tuple[str, str]]]:
        """Three id-map tables of (key, value) rows."""
        hgnc, ncbi, uniprot = [], [], []
        for e in self._entities():
            ids = self.ids(e)
            hgnc.append((ids["hgnc"], ids["ensg"]))
            ncbi.append((ids["ncbi"], ids["ensg"]))
            uniprot.append((ids["uniprot"], ids["ensg"]))
            if (e - self.base) % 10 == 1:
                uniprot.append((ids["uniprot"], self.ids(e - 1)["ensg"]))
        return [hgnc, ncbi, uniprot]

    def canonical(self) -> dict[str, str]:
        """id -> planted canonical id (min ENSG of its merged component)."""
        out = {}
        for e in self._entities():
            root = e - 1 if (e - self.base) % 10 == 1 else e
            for i in self.ids(e).values():
                out[i] = self.ids(root)["ensg"]
        return out

    def texts(self) -> list[tuple[str, str]]:
        """(doc_id, text): filler tokens with Zipf-drawn entity mentions
        in four surface forms; rank 1 is the hub entity."""
        rng = np.random.default_rng([self.seed, 3])
        p = 1.0 / np.arange(1, self.n_entities + 1) ** self.zipf_s
        n_m = self.n_docs * self.mentions_per_doc
        ents = self.base + rng.choice(self.n_entities, size=n_m, p=p / p.sum())
        forms = rng.choice(len(_FORMS), size=n_m, p=_FORM_P)
        fillers = rng.integers(0, _FILLER, size=(self.n_docs, self.tokens_per_doc))
        slots = rng.integers(0, self.tokens_per_doc, size=n_m)
        out = []
        for d in range(self.n_docs):
            toks = [f"w{x}" for x in fillers[d]]
            for m in range(d * self.mentions_per_doc, (d + 1) * self.mentions_per_doc):
                sf = self.surfaces(int(ents[m]))
                form = _FORMS[forms[m]]
                text = sf["symbol"].lower() if form == "folded" else sf[form]
                toks[slots[m]] = text
            out.append((f"t{self.seed}-{d}", " ".join(toks)))
        return out


TWIN_MENTION_COUNTS = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(value, '[A-Za-z0-9:_.\-]+') AS t FROM docs
), grams AS (
  SELECT DISTINCT doc_id, mention FROM (
    SELECT doc_id, unnest([array_to_string(t[j:j + n - 1], ' ')
                           FOR j IN range(1, len(t) - n + 2)]) AS mention
    FROM toks, (SELECT unnest([1, 2, 3]) AS n) ns
    WHERE len(t) >= n)
), scored AS (
  SELECT g.doc_id, coalesce(e.entity, f.entity) AS entity,
         round(CASE WHEN e.entity IS NOT NULL THEN 1.0 ELSE 0.8 END
               * least(1.0, 0.5 + 0.25 * len(string_split(g.mention, ' '))), 4)
           AS score
  FROM grams g
  LEFT JOIN exact e ON g.mention = e.surface
  LEFT JOIN folded f ON lower(g.mention) = f.surface
)
SELECT entity, count(*) AS n_mentions, sum(score) AS score_sum
FROM scored WHERE entity IS NOT NULL AND score >= 0.5
GROUP BY entity
"""


def twin_mention_counts(texts: list[tuple[str, str]],
                        dictionary: dict[str, str]) -> dict[str, tuple[int, float]]:
    """Entity mention counts from DuckDB over the same text:
    {entity: (n_mentions, score_sum)}."""
    import duckdb
    import pandas as pd

    folded: dict[str, str] = {}
    for k, v in dictionary.items():
        folded.setdefault(k.lower(), v)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("docs", pd.DataFrame(texts, columns=["doc_id", "value"]))
        con.register("exact", pd.DataFrame(list(dictionary.items()),
                                           columns=["surface", "entity"]))
        con.register("folded", pd.DataFrame(list(folded.items()),
                                            columns=["surface", "entity"]))
        rows = con.execute(TWIN_MENTION_COUNTS).fetchall()
    finally:
        con.close()
    return {e: (int(n), float(s)) for e, n, s in rows}
